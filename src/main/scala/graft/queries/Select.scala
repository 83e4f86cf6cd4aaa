package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions
import graft.ops.GlobalRank

/** Data-selection batch — the "which documents do we train on"
  * operators that sit between dedup and packing in an LLM pipeline:
  *
  *  - dsir1: importance weighting of the raw corpus toward a target
  *    distribution via unigram log-likelihood ratios (the DSIR
  *    recipe: estimate cheap n-gram LMs of target and raw, weight
  *    each raw doc by how target-like its tokens are).
  *  - ccnet1: perplexity terciles per source (the CCNet recipe:
  *    score docs with a cheap LM, split each source into
  *    head/middle/tail quality buckets by score rank).
  *  - kc1: greedy k-center coreset over the embedding table
  *    (farthest-first traversal — the classic diverse-subset
  *    selection whose per-round argmax is a distributed aggregate).
  */
object Select extends QueryModule {

  // ---- dsir1: importance weights toward a target distribution --------

  private val V = 256 // restricted feature vocabulary size

  /** dsir1: per-source mean importance weight of the raw corpus
    * toward the English-language target slice.
    *
    * Features are unigram counts over a RESTRICTED vocabulary — the
    * top-[[V]] tokens by global frequency (count-desc, token-asc
    * tiebreak so the cut is total-ordered). A bounded vocabulary is
    * what makes the operator scale- and oracle-honest at once: the
    * per-token log-likelihood-ratio table is V rows — broadcast
    * weight, never a shuffle — and needs no seeded feature hashing a
    * second engine couldn't replay (hashing and frequency truncation
    * play the same role: a fixed-width feature space).
    *
    * Weight per doc = Σ_tokens llr(token), llr = add-one-smoothed
    * log(p_target/p_raw). Determinism discipline: each log is
    * rounded to 6 dp (the t10 rule), the subtraction and the per-doc
    * and per-source sums then run in exact DECIMAL.
    *
    * Scale shape: one token-explode scan feeds (a) the vocabulary
    * top-V (TakeOrdered, no global sort), (b) the V-row count table,
    * and (c) the per-doc fold via a broadcast join — the only
    * row-scaling shuffle is the per-doc groupBy.
    */
  def dsir1ImportanceWeights(s: SparkSession, d: String): DataFrame =
    dsirWeightsOn(Tables.documents(s, d))

  /** The frame-parameterized core: the query over any documents frame. */
  private[graft] def dsirWeightsOn(docs: DataFrame): DataFrame = {
    val toks = docs.select(
      col("doc_id"), col("source"),
      (col("lang") === "en").as("is_t"),
      explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
    val counts = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("cnt_raw"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("cnt_t"))
    val vocab = counts
      .orderBy(col("cnt_raw").desc, col("token")).limit(V)
    val tot = vocab.agg(
      sum(col("cnt_raw")).as("tot_r"), sum(col("cnt_t")).as("tot_t"))
    val llr = vocab.crossJoin(broadcast(tot))
      .select(col("token"),
        (round(log((col("cnt_t") + 1).cast("double") /
            (col("tot_t") + V).cast("double")), 6).cast("decimal(18,6)") -
          round(log((col("cnt_raw") + 1).cast("double") /
            (col("tot_r") + V).cast("double")), 6).cast("decimal(18,6)"))
          .as("llr"))
    val perDoc = toks
      .join(broadcast(llr), Seq("token"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(coalesce(col("llr"), lit(0).cast("decimal(18,6)")))
          .as("w"),
        sum(when(col("llr").isNotNull, 1L).otherwise(0L)).as("nv"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("w") > 0, 1L).otherwise(0L)).as("n_pos"),
        sum(col("nv")).as("vocab_tokens"),
        // exact decimal total, THEN one double division (t10 rule)
        round(sum(col("w")).cast("double") / count(lit(1)), 6)
          .as("mean_w6"))
  }

  // ---- ccnet1: perplexity head/middle/tail buckets per source --------

  /** ccnet1: split each source's documents into head/middle/tail
    * terciles of unigram negative log-likelihood (CCNet's quality
    * bucketing, with the corpus itself as the LM — the seam where a
    * production pipeline swaps in a wiki-trained model).
    *
    * The per-source rank comes from ONE [[GlobalRank.prefixScan]]
    * ordered by (source, nll, doc_id) — ranks within a source are
    * then contiguous, so `bucket = (rank - first_rank_of_source) * 3
    * div source_count` needs only a broadcast of the 20-row
    * per-source (first rank, count) table. A
    * `Window.partitionBy(source)` would put EVERY doc of a source in
    * one task — with tens of sources over 100 TB that is the skewed
    * single-task sort this repo bans; the range-partitioned prefix
    * kernel has no such hot key.
    */
  def ccnet1PerplexityBuckets(s: SparkSession, d: String): DataFrame =
    ccnetBucketsOn(Tables.documents(s, d))

  /** The frame-parameterized core: the query over any documents frame. */
  private[graft] def ccnetBucketsOn(docs: DataFrame): DataFrame = {
    val toks = docs.select(
      col("doc_id"), col("source"),
      explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
    val freq = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val nTotal = broadcast(toks.agg(count(lit(1)).as("n_total")))
    val nll = toks.join(broadcast(freq), "token")
      .crossJoin(nTotal)
      .withColumn("__lp",
        round(-log(col("cnt").cast("double") / col("n_total")), 6)
          .cast("decimal(18,6)"))
      .groupBy(col("doc_id"), col("source"))
      .agg(round(sum(col("__lp")).cast("double") / count(lit(1)), 6)
        .as("nll6"))
    val ranked = GlobalRank.prefixScan(nll,
      Seq(col("source"), col("nll6"), col("doc_id")), Nil, Some("r"))
    val srcStats = ranked.groupBy(col("source"))
      .agg(min(col("r")).as("r0"), count(lit(1)).as("cnt"))
    ranked.join(broadcast(srcStats), Seq("source"))
      .withColumn("bucket", expr("(r - r0) * 3 div cnt"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("nll6").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("mean_nll6"))
  }

  // ---- kc1: greedy k-center coreset over embeddings ------------------

  /** Greedy farthest-first k-center selection over `emb`: seed with
    * the min-id vector, then k-1 rounds of "add the point farthest
    * from its nearest selected center" (squared Euclidean; ties on
    * distance break to the lowest id).
    *
    * Scale contract: the DRIVER holds only the k selected centers;
    * each round is ONE distributed aggregate — every row computes
    * its min distance to the ≤k broadcast center literals (a
    * codegen'd [[graft.functions.ArraySqDist]] loop per center) and
    * a single `max(struct(dist, -id, …))` reduces map-side to one
    * row. k sequential jobs over a (cacheable) scan, the pca1/pca2
    * iteration shape — no pairwise materialization, no global sort.
    * Distances are 9-dp-rounded before the argmax so the comparison
    * runs on grid points both engines agree on (round is monotone,
    * so rounding before or after the min over centers commutes).
    */
  def kcenterGreedy(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val seed = base.orderBy(col("id")).limit(1).collect()(0)
    def vecOf(raw: Seq[Any]): Seq[Double] = raw.map {
      case f: Float => f.toDouble
      case dd: Double => dd
    }
    val picked = scala.collection.mutable.ArrayBuffer(
      (seed.getLong(0), vecOf(seed.getSeq[Any](1)), 0.0))
    while (picked.length < k) {
      val dists: Seq[Column] = picked.toSeq.map { case (_, cv, _) =>
        round(VectorFunctions.array_sqdist(col("v"),
          typedLit(cv).cast("array<double>")), 9)
      }
      val minDist = if (dists.size == 1) dists.head else least(dists: _*)
      val row = base
        .filter(!col("id").isin(picked.toSeq.map(_._1): _*))
        .agg(max(struct(minDist.as("d"), (-col("id")).as("nid"),
          col("id").as("id"), col("v").as("v"))).as("m"))
        .select(col("m.d"), col("m.id"), col("m.v")).collect()(0)
      picked += ((row.getLong(1), vecOf(row.getSeq[Any](2)),
        row.getDouble(0)))
    }
    picked.toSeq.zipWithIndex
      .map { case ((id, _, dist), i) => (i + 1, id, dist) }
      .toDF("rank", idCol, "dist9")
  }

  /** kc1: 8-center greedy coreset of the embedding table. */
  def kc1KcenterCoreset(s: SparkSession, d: String): DataFrame =
    kcenterGreedy(Tables.embeddings(s, d), "vec_id", "embedding", k = 8)

  // ---- clb1: cluster-balanced prototype sampling ---------------------

  /** clb1: diversity-balanced selection across embedding clusters —
    * assign every vector to its nearest centroid (km1's exact
    * integer-domain assignment, bit-reproducible), give each cluster
    * a sampling quota ∝ sqrt(cluster size) (mix1's temperature
    * discipline: sqrt is correctly rounded, DECIMAL normalizer), and
    * keep each cluster's `quota` most-prototypical vectors (smallest
    * dist2, id tiebreak). The cluster-balanced recipe that keeps a
    * dominant mode from monopolizing a curation budget.
    *
    * Scale shape: assignment is a literal-centroid projection (no
    * shuffle); quotas come from a k-row aggregate; the per-cluster
    * rank runs the [[GlobalRank.prefixScan]] kernel over
    * (cluster, dist2, id) — NOT a Window.partitionBy(cluster), whose
    * k=8 hot partitions would each be a single task at corpus scale
    * (ccnet1's argument, and the same fix).
    */
  def clb1ClusterBalanced(s: SparkSession, d: String): DataFrame =
    clb1ClusterBalancedOn(Tables.embeddings(s, d))

  private[graft] def clb1ClusterBalancedOn(emb: DataFrame): DataFrame = {
    val (q, init) = Extensions.quantizedWithInitOn(emb, k = 8)
    val assigned = graft.similarity.Quantize.assignQ(q, "vec_id", init)
      .select(col("vec_id"), col("cluster"), col("dist2"))
    val sizes = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_c"))
    val wr = sizes.withColumn("wr9",
      round(sqrt(col("n_c").cast("double")), 9))
    val norm = wr.agg(
      sum(col("wr9").cast("decimal(28,9)")).cast("double").as("sw"))
    val quotas = wr.crossJoin(broadcast(norm))
      .withColumn("quota", greatest(lit(1L),
        round(lit(64.0) * col("wr9") / col("sw"), 0).cast("long")))
      .select(col("cluster"), col("quota"))
    val ranked = GlobalRank.prefixScan(assigned,
      Seq(col("cluster"), col("dist2"), col("vec_id")), Nil, Some("r"))
    val base = ranked.groupBy(col("cluster")).agg(min(col("r")).as("r0"))
    ranked.join(broadcast(base), Seq("cluster"))
      .join(broadcast(quotas), Seq("cluster"))
      .withColumn("rk", col("r") - col("r0") + 1)
      .filter(col("rk") <= col("quota"))
      .select(col("cluster"), col("rk"), col("vec_id"), col("dist2"))
  }

  // ---- rho1: excess-loss ("learnability") selection -------------------

  /** rho1: excess-loss data selection (the RHO-1 recipe, reduced to
    * in-plan LMs): score each document by how much a STRONGER model
    * improves on a WEAKER one — here mean unigram NLL (t10's kernel)
    * minus mean add-one-smoothed bigram NLL (t14's kernel). High
    * excess = text whose structure a better model exploits (learnable
    * prose); near-zero/negative = token soup the stronger model
    * cannot compress — exactly the signal perplexity-ONLY filters
    * (ccnet1) miss, because gibberish built from common words scores
    * fine under the unigram LM alone. Top quarter per language
    * selected by exact rank — the per-language rank comes from ONE
    * [[GlobalRank.prefixScan]] over (lang, -excess, id), never a
    * Window.partitionBy(lang) whose hottest language is a single
    * task; quarter membership is integer arithmetic on the broadcast
    * (first-rank, count) language table.
    *
    * Single-token documents have no bigram side and drop out (inner
    * join), matching the SQL dual's JOIN semantics.
    */
  private[graft] def rhoExcessOn(docs: DataFrame): DataFrame = {
    // toks feeds BOTH LM branches; pairs feeds three consumers
    // (pairCnt, w1Cnt, the scoring join). Materialize each once — the
    // win2 recompute lesson cited below applies here too, and without
    // these seams every downstream branch re-tokenizes the corpus.
    val toks = docs.select(col("doc_id"), col("lang"),
      split(lower(trim(col("text"))), "\\s+").as("t"))
      .localCheckpoint(true)
    val tk = toks.select(col("doc_id"), col("lang"),
      explode(col("t")).as("token"))
    // freq/pairCnt/w1Cnt are distinct-vocab / distinct-bigram count
    // tables that GROW with corpus size — no explicit broadcast hint;
    // AQE decides broadcast-vs-shuffle from their measured size at
    // runtime (small at test SFs, shuffled at 100 TB), the same
    // regime-dispatch contaminationScoresAuto does by hand. Only the
    // genuinely bounded frames (1-row totals) keep the hint.
    val freq = tk.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val nTotal = broadcast(tk.agg(count(lit(1)).as("n_total")))
    val uni = tk.join(freq, "token")
      .crossJoin(nTotal)
      .withColumn("__lp",
        round(-log(col("cnt").cast("double") / col("n_total")), 6)
          .cast("decimal(18,6)"))
      .groupBy(col("doc_id"), col("lang"))
      .agg((sum(col("__lp")).cast("double") / count(lit(1))).as("nll1"))
    val pairs = toks
      .select(col("doc_id"), explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))
      .localCheckpoint(true)
    val pairCnt = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_pair"))
    val w1Cnt = pairs.groupBy(col("w1")).agg(count(lit(1)).as("n_w1"))
    val vocab = broadcast(tk
      .agg(count_distinct(col("token")).as("v")))
    val bi = pairs
      .join(pairCnt, Seq("w1", "w2"))
      .join(w1Cnt, Seq("w1"))
      .crossJoin(vocab)
      .withColumn("__lp",
        round(-log((col("n_pair") + 1).cast("double") /
          (col("n_w1") + col("v"))), 6).cast("decimal(18,6)"))
      .groupBy(col("doc_id"))
      .agg((sum(col("__lp")).cast("double") / count(lit(1))).as("nll2"))
    val ex = uni.join(bi, Seq("doc_id"))
      .select(col("doc_id"), col("lang"),
        round(col("nll1") - col("nll2"), 6)
          .cast("decimal(18,6)").cast("double").as("excess6"))
    // the ranked frame feeds two branches (the language-stats
    // aggregate and the outer join) and sits on top of the ENTIRE
    // two-LM scoring pipeline — materialize once or every rho1/pipe4
    // action retrains both LMs twice (the win2 recompute lesson;
    // ReuseExchange does not fire across the broadcast/shuffle pair)
    val ranked = GlobalRank.prefixScan(ex,
        Seq(col("lang"), negate(col("excess6")), col("doc_id")),
        Nil, Some("r"))
      .localCheckpoint(true)
    val langStats = ranked.groupBy(col("lang"))
      .agg(min(col("r")).as("r0"), count(lit(1)).as("cnt"))
    ranked.join(broadcast(langStats), Seq("lang"))
      .withColumn("rk", col("r") - col("r0") + 1)
      .select(col("doc_id"), col("lang"), col("excess6"),
        col("rk"), expr("(rk - 1) * 4 div cnt = 0").as("selected"))
  }

  def rho1ExcessLoss(s: SparkSession, d: String): DataFrame =
    rhoExcessOn(Tables.documents(s, d))

  // ---- qc1: learned quality classifier (fastText-shaped) ------------

  private val QcK = 256 // hashed feature buckets
  private val QcRounds = 6 // full-batch gradient rounds
  private val QcLr = 1.0

  /** qc1's two frames: the doc header (doc_id, lang, planted label)
    * and the LONG-format feature frame (doc_id, bucket,
    * L1-normalized count) — the fastText recipe: word BIGRAMS hashed
    * into [[QcK]] buckets by the engine-portable md5-hex4 hash
    * (dsir1's argument: hashing = fixed-width feature space, and a
    * portable hash is what lets a second engine replay training),
    * counts divided by the doc's bigram total (fastText's n-gram
    * averaging — also what keeps gradient curvature ≤ 1 so
    * [[QcLr]] = 1 is stable). The planted weak-supervision label —
    * the doc mentions 'fast' strictly more often than 'slow' — is a
    * text-derived rule both engines compute. Long format is the shape
    * that scales: real fastText buckets run to millions, so the
    * feature frame must be (doc, bucket, x) rows with the weight
    * vector a BROADCAST join, never K physical columns.
    */
  private[graft] def qcFrames(docs: DataFrame): (DataFrame, DataFrame) = {
    val ws = split(lower(trim(col("text"))), "\\s+")
    val y = when(
      size(filter(col("ws"), t => t === "fast")) >
        size(filter(col("ws"), t => t === "slow")), 1).otherwise(0)
    val bigrams = when(size(col("ws")) >= 2,
      transform(sequence(lit(1), size(col("ws")) - 1),
        i => concat(element_at(col("ws"), i), lit(" "),
          element_at(col("ws"), i + 1))))
      .otherwise(typedlit(Seq.empty[String]))
    val buckets = transform(col("bg"), g =>
      pmod(conv(substring(md5(g.cast("binary")), 1, 4), 16, 10)
        .cast("long"), lit(QcK)).cast("int"))
    // fan-out below the projections: the per-doc bigram md5 hashing is
    // the expensive stage here and otherwise runs single-core inside a
    // few-row-group scan (no-op at warehouse scale — guide §2)
    val base = graft.ops.Ops.fanOutForCompute(
      docs.select(col("doc_id"), col("lang"), col("text")), col("doc_id"))
      .select(col("doc_id"), col("lang"), ws.as("ws"))
      .select(col("doc_id"), col("lang"), y.as("y"), bigrams.as("bg"))
      .select(col("doc_id"), col("lang"), col("y"), buckets.as("bks"))
      .localCheckpoint(true)
    val hdr = base.select(col("doc_id"), col("lang"), col("y"))
    val featL = base
      .select(col("doc_id"), size(col("bks")).as("nb"),
        explode(col("bks")).as("b"))
      .groupBy(col("doc_id"), col("b"))
      .agg((count(lit(1)).cast("double") / first(col("nb"))).as("x"))
    (hdr, featL)
  }

  /** Score every doc under a weight vector: the K-row weight frame
    * BROADCAST-joins the long feature frame, the per-doc dot product
    * accumulates as exact DECIMAL over 9-dp-rounded terms (identical
    * double products both engines, summed combine-order-proof), and
    * the intercept adds in a fixed order — `wi + coalesce(dot, 0)`.
    */
  private def qcScored(
      s: SparkSession, hdr: DataFrame, featL: DataFrame,
      wi: Double, w: Array[Double]): DataFrame = {
    val wDf = s.createDataFrame(
      w.toIndexedSeq.zipWithIndex.map { case (v, b) => (b, v) })
      .toDF("b", "w")
    val dot = featL.join(broadcast(wDf), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(round(col("w") * col("x"), 9).cast("decimal(27,9)"))
        .cast("double").as("dot"))
    hdr.join(dot, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("y"),
        (lit(wi) + coalesce(col("dot"), lit(0.0))).as("score"))
  }

  /** Train the linear probability model by [[QcRounds]] full-batch
    * gradient rounds: per round, ONE broadcast-join scoring pass and
    * ONE gradient aggregation grouped by bucket — per-doc gradient
    * contributions `(score - y) · x_b` rounded to 6 dp and summed in
    * exact DECIMAL (the reg2 discipline, combine-order-proof, so
    * DuckDB replays training bit-for-bit as unrolled CTE rounds);
    * the weight update `w - lr · (g / n)` is scalar double
    * arithmetic in a fixed operand order. The per-round collect is
    * the K-row gradient vector — bounded by the feature width, never
    * the corpus (the kc1/km1 precedent) — and the weights re-enter
    * the next round's plan as an exact-double broadcast frame.
    */
  private[graft] def qcTrain(
      s: SparkSession, hdr: DataFrame, featL: DataFrame,
      n: Double): (Double, Array[Double]) = {
    // sentinel bucket -1 carries the INTERCEPT gradient: its x is
    // exactly 1.0, so round(resid * x, 6) == round(resid, 6) bit for
    // bit and one (K+1)-bucket aggregation per round replaces the two
    // jobs (bucket gradients + separate intercept sum) the loop ran
    // before — training collapses from 2 scoring-subtree executions +
    // 2 aggregates per round to ONE join + ONE aggregate per round
    // (guide §1.2: fewer passes first). Values are unchanged.
    val featG = featL.unionByName(
        hdr.select(col("doc_id"), lit(-1).as("b"), lit(1.0).as("x")))
      .localCheckpoint(true)
    var wi = 0.0
    var w = Array.fill(QcK)(0.0)
    for (_ <- 1 to QcRounds) {
      val scored = qcScored(s, hdr, featL, wi, w)
      val resid = col("score") - col("y")
      val g = scored.join(featG, Seq("doc_id"))
        .groupBy(col("b"))
        .agg(sum(round(resid * col("x"), 6).cast("decimal(27,6)"))
          .cast("double").as("g"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      wi = wi - QcLr * (g.getOrElse(-1, 0.0) / n)
      w = Array.tabulate(QcK)(b =>
        w(b) - QcLr * (g.getOrElse(b, 0.0) / n))
    }
    (wi, w)
  }

  /** Shared preamble: checkpoint the frames, read (n, positives) in
    * ONE aggregate, train. Factored so the query surface ([[qc1On]])
    * and the spec surface ([[qc1ScoredOn]]) cannot drift.
    */
  private def qcPrepare(s: SparkSession, docs: DataFrame)
      : (DataFrame, DataFrame, Double, Array[Double], Long, Long) = {
    val (hdr0, featL0) = qcFrames(docs)
    val hdr = hdr0.localCheckpoint(true)
    val featL = featL0.localCheckpoint(true)
    val stats = hdr.agg(count(lit(1)), sum(col("y"))).head()
    val (n, nPos) = (stats.getLong(0), stats.getLong(1))
    val (wi, w) = qcTrain(s, hdr, featL, n.toDouble)
    (hdr, featL, wi, w, n, nPos)
  }

  /** Per-doc scores under the trained model — the spec surface for
    * the planted-label AUC floor.
    */
  private[graft] def qc1ScoredOn(
      s: SparkSession, docs: DataFrame): DataFrame = {
    val (hdr, featL, wi, w, _, _) = qcPrepare(s, docs)
    qcScored(s, hdr, featL, wi, w)
      .select(col("doc_id"), col("y"), col("score"))
  }

  /** qc1: the LEARNED quality classifier stage of C4/CCNet-class
    * pipelines — the gap in the rule-based (qf1) / perplexity
    * (ccnet1) / importance-weight (dsir1) family: a linear model over
    * hashed word-bigram features, trained against a planted
    * weak-supervision label by [[QcRounds]] in-plan gradient rounds
    * ([[qcTrain]]) and scored over the corpus with one broadcast
    * join. The decision threshold is the label BASE RATE (sum(y)/n —
    * an exact rational both engines compute identically), the right
    * operating point for a linear probability model. Output: per
    * (lang, planted label) doc counts, predicted-positive counts,
    * and the DECIMAL-summed rounded score mass — the separation
    * surface the dual checks; SelectSpec pins the AUC floor.
    *
    * Scale shape: feature extraction is one explode + one groupBy of
    * slim rows; each training round is one broadcast-join scan + one
    * bucket-grouped aggregation (K rows out); scoring is one more
    * broadcast join — nothing scales worse than O(corpus tokens),
    * and driver state is K doubles per round, never corpus-sized.
    */
  def qc1QualityClassifier(s: SparkSession, d: String): DataFrame =
    qc1On(s, Tables.documents(s, d))

  /** The frame-parameterized core: the query over any documents frame. */
  private[graft] def qc1On(s: SparkSession, docs: DataFrame): DataFrame = {
    val (hdr, featL, wi, w, n, nPos) = qcPrepare(s, docs)
    val thr = nPos.toDouble / n
    qcScored(s, hdr, featL, wi, w)
      .groupBy(col("lang"), col("y"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score") > thr, 1).otherwise(0)).cast("bigint")
          .as("n_pred_pos"),
        round(sum(round(col("score"), 6).cast("decimal(27,6)"))
          .cast("double"), 6).as("sum_score6"))
  }

  // ---- registry ------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dsir1_importance_weights" -> (dsir1ImportanceWeights _),
    "ccnet1_perplexity_buckets" -> (ccnet1PerplexityBuckets _),
    "kc1_kcenter_coreset" -> (kc1KcenterCoreset _),
    "clb1_cluster_balanced" -> (clb1ClusterBalanced _),
    "rho1_excess_loss" -> (rho1ExcessLoss _),
    "qc1_quality_classifier" -> (qc1QualityClassifier _))

  /** One k-center stage of the kc1 SQL dual (mmr1's unrolled-greedy
    * pattern): carry (ids, vs, ds) lists, append the argmax-by-
    * (min-dist DESC, id) row.
    */
  private def kcOracleStage(k: Int): String =
    s""",
       s$k AS MATERIALIZED (
         SELECT list_append(ids, id) AS ids, list_append(vs, cv) AS vs,
                list_append(ds, d) AS ds
         FROM (
           SELECT s.ids, s.vs, s.ds, c.vec_id AS id, c.v AS cv,
                  list_min(list_transform(s.vs, sv ->
                    round(list_reduce(list_prepend(0.0,
                      list_transform(range(1, len(c.v) + 1),
                        i -> (c.v[i] - sv[i]) * (c.v[i] - sv[i]))),
                      (a, b) -> a + b), 9))) AS d
           FROM s${k - 1} s JOIN v c ON NOT list_contains(s.ids, c.vec_id))
         QUALIFY row_number() OVER (ORDER BY d DESC, id) = 1)"""

  /** The rho scoring/ranking CTE chain, parameterized on the CTE that
    * provides (doc_id, lang, text) — reused verbatim by pipe4's
    * composed dual so composition cannot drift from the standalone
    * query.
    */
  private[queries] def rhoOracleChain(src: String): String =
    s"""toks AS MATERIALIZED (
           SELECT doc_id, lang,
                  regexp_split_to_array(lower(trim(text)), '\\s+') AS t
           FROM $src),
         tk AS MATERIALIZED (
           SELECT doc_id, lang, unnest(t) AS token FROM toks),
         freq AS (SELECT token, count(*) AS cnt FROM tk GROUP BY token),
         tot AS (SELECT count(*) AS n_total FROM tk),
         uni AS MATERIALIZED (
           SELECT doc_id, any_value(lang) AS lang,
                  CAST(SUM(CAST(round(-ln(CAST(cnt AS DOUBLE) / n_total), 6)
                    AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS nll1
           FROM tk JOIN freq USING (token) CROSS JOIN tot
           GROUP BY doc_id),
         pairs AS MATERIALIZED (
           SELECT doc_id, t[i] AS w1, t[i+1] AS w2
           FROM toks, unnest(range(1, len(t))) AS u(i)),
         pc AS (SELECT w1, w2, count(*) AS n_pair FROM pairs GROUP BY 1, 2),
         wc AS (SELECT w1, count(*) AS n_w1 FROM pairs GROUP BY 1),
         v AS (SELECT count(DISTINCT token) AS v FROM tk),
         bi AS MATERIALIZED (
           SELECT p.doc_id,
                  CAST(SUM(CAST(round(-ln(CAST(n_pair + 1 AS DOUBLE) /
                    (n_w1 + v)), 6) AS DECIMAL(18,6))) AS DOUBLE)
                    / count(*) AS nll2
           FROM pairs p JOIN pc USING (w1, w2) JOIN wc USING (w1), v
           GROUP BY p.doc_id),
         ex AS MATERIALIZED (
           SELECT doc_id, lang,
                  CAST(CAST(round(nll1 - nll2, 6) AS DECIMAL(18,6))
                    AS DOUBLE) AS excess6
           FROM uni JOIN bi USING (doc_id)),
         r AS MATERIALIZED (
           SELECT doc_id, lang, excess6,
                  CAST(row_number() OVER (PARTITION BY lang
                    ORDER BY excess6 DESC, doc_id) AS BIGINT) AS rk
           FROM ex),
         n AS (SELECT lang, CAST(count(*) AS BIGINT) AS cnt
               FROM r GROUP BY lang)
         SELECT doc_id, r.lang, excess6, rk,
                ((rk - 1) * 4) // cnt = 0 AS selected
         FROM r JOIN n ON r.lang = n.lang"""

  /** First 4 hex digits of an md5 as an int (the portable-hash trick;
    * Geo/Extensions keep their own copies so each oracle stays a
    * self-contained SQL text).
    */
  private def qcHex4(m: String): String =
    s"""((strpos('0123456789abcdef', substr($m, 1, 1)) - 1) * 4096 +
        (strpos('0123456789abcdef', substr($m, 2, 1)) - 1) * 256 +
        (strpos('0123456789abcdef', substr($m, 3, 1)) - 1) * 16 +
        (strpos('0123456789abcdef', substr($m, 4, 1)) - 1))"""

  /** One scoring pass of qc1's dual under weight CTEs w{r}/wi{r}:
    * broadcast-shaped join of the long feature frame with the K-row
    * weight relation, per-doc dot as exact DECIMAL over 9-dp-rounded
    * terms, intercept added in [[qcScored]]'s fixed order.
    */
  private def qcDotSql(r: Int): String =
    s"""dot$r AS (
         SELECT f.doc_id,
                CAST(sum(CAST(round(w.w * f.x, 9) AS DECIMAL(27,9)))
                  AS DOUBLE) AS dot
         FROM featL f JOIN w$r w USING (b) GROUP BY 1),
       pr$r AS MATERIALIZED (
         SELECT h.doc_id, h.lang, h.y,
                (SELECT wi FROM wi$r) + COALESCE(t.dot, 0.0) AS score
         FROM hdr h LEFT JOIN dot$r t USING (doc_id))"""

  /** One unrolled gradient round of qc1's dual: bucket-grouped
    * rounded-DECIMAL gradient sums over the round's scored frame,
    * then the per-bucket weight update in [[qcTrain]]'s scalar order.
    */
  private def qcRoundSql(r: Int): String =
    s""",
       ${qcDotSql(r - 1)},
       g$r AS (
         SELECT f.b,
                CAST(sum(CAST(round((p.score - p.y) * f.x, 6)
                  AS DECIMAL(27,6))) AS DOUBLE) AS g
         FROM pr${r - 1} p JOIN featL f USING (doc_id) GROUP BY 1),
       gi$r AS (
         SELECT CAST(sum(CAST(round(p.score - p.y, 6)
                  AS DECIMAL(27,6))) AS DOUBLE) AS gi
         FROM pr${r - 1} p),
       w$r AS MATERIALIZED (
         SELECT w.b,
                w.w - $QcLr * (COALESCE(g.g, 0.0) /
                  (SELECT n FROM nn)) AS w
         FROM w${r - 1} w LEFT JOIN g$r g USING (b)),
       wi$r AS (
         SELECT (SELECT wi FROM wi${r - 1}) - $QcLr *
                ((SELECT gi FROM gi$r) / (SELECT n FROM nn)) AS wi)"""

  private val qc1Oracle: String =
    s"""WITH d AS (
         SELECT doc_id, lang,
                regexp_split_to_array(lower(trim(text)), '\\s+') AS ws
         FROM documents),
       f0 AS (
         SELECT doc_id, lang,
                CASE WHEN len(list_filter(ws, t -> t = 'fast')) >
                          len(list_filter(ws, t -> t = 'slow'))
                     THEN 1 ELSE 0 END AS y,
                CASE WHEN len(ws) >= 2 THEN
                  list_transform(range(1, len(ws)), i ->
                    ${qcHex4("md5(ws[CAST(i AS INT)] || ' ' || " +
                      "ws[CAST(i + 1 AS INT)])")} % $QcK)
                ELSE CAST([] AS BIGINT[]) END AS bks
         FROM d),
       hdr AS MATERIALIZED (SELECT doc_id, lang, y FROM f0),
       featL AS MATERIALIZED (
         SELECT doc_id, b,
                CAST(count(*) AS DOUBLE) / any_value(nb) AS x
         FROM (SELECT doc_id, len(bks) AS nb, unnest(bks) AS b FROM f0)
         GROUP BY doc_id, b),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(y) AS DOUBLE) / count(*) AS thr
              FROM hdr),
       w0 AS (SELECT unnest(range(0, $QcK)) AS b, 0.0 AS w),
       wi0 AS (SELECT 0.0 AS wi)
       ${(1 to QcRounds).map(qcRoundSql).mkString("")},
       ${qcDotSql(QcRounds)}
       SELECT lang, y, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(CASE WHEN score > (SELECT thr FROM nn)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pos,
              round(CAST(sum(CAST(round(score, 6) AS DECIMAL(27,6)))
                AS DOUBLE), 6) AS sum_score6
       FROM pr$QcRounds GROUP BY 1, 2"""

  val oracles: Map[String, String] = Map(
    "qc1_quality_classifier" -> qc1Oracle,
    "rho1_excess_loss" -> s"WITH ${rhoOracleChain("documents")}",
    "dsir1_importance_weights" ->
      s"""WITH toks AS MATERIALIZED (
           SELECT doc_id, source, lang = 'en' AS is_t,
                  unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                    AS token
           FROM documents),
         counts AS (
           SELECT token, CAST(count(*) AS BIGINT) AS cnt_raw,
                  CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT)
                    AS cnt_t
           FROM toks GROUP BY token),
         vocab AS MATERIALIZED (
           SELECT * FROM counts ORDER BY cnt_raw DESC, token LIMIT $V),
         tot AS (SELECT CAST(sum(cnt_raw) AS BIGINT) AS tot_r,
                        CAST(sum(cnt_t) AS BIGINT) AS tot_t FROM vocab),
         llr AS MATERIALIZED (
           SELECT token,
                  CAST(round(ln(CAST(cnt_t + 1 AS DOUBLE) /
                      CAST(tot_t + $V AS DOUBLE)), 6) AS DECIMAL(18,6)) -
                  CAST(round(ln(CAST(cnt_raw + 1 AS DOUBLE) /
                      CAST(tot_r + $V AS DOUBLE)), 6) AS DECIMAL(18,6))
                    AS llr
           FROM vocab CROSS JOIN tot),
         per_doc AS (
           SELECT doc_id, source,
                  sum(COALESCE(llr, CAST(0 AS DECIMAL(18,6)))) AS w,
                  CAST(sum(CASE WHEN llr IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS nv
           FROM toks LEFT JOIN llr USING (token)
           GROUP BY doc_id, source)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_pos,
                CAST(sum(nv) AS BIGINT) AS vocab_tokens,
                round(CAST(sum(w) AS DOUBLE) / count(*), 6) AS mean_w6
         FROM per_doc GROUP BY source""",
    "ccnet1_perplexity_buckets" ->
      """WITH toks AS MATERIALIZED (
           SELECT doc_id, source,
                  unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                    AS token
           FROM documents),
         freq AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
         tot AS (SELECT count(*) AS n_total FROM toks),
         nll AS MATERIALIZED (
           SELECT doc_id, source,
                  round(CAST(sum(CAST(round(-ln(CAST(cnt AS DOUBLE) / n_total), 6)
                      AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS nll6
           FROM toks JOIN freq USING (token) CROSS JOIN tot
           GROUP BY doc_id, source),
         ranked AS (
           SELECT source, nll6,
                  row_number() OVER (PARTITION BY source
                    ORDER BY nll6, doc_id) AS rn,
                  count(*) OVER (PARTITION BY source) AS cnt
           FROM nll)
         SELECT source, CAST((rn - 1) * 3 // cnt AS BIGINT) AS bucket,
                CAST(count(*) AS BIGINT) AS n_docs,
                round(CAST(sum(CAST(nll6 AS DECIMAL(18,6))) AS DOUBLE)
                  / count(*), 6) AS mean_nll6
         FROM ranked GROUP BY 1, 2""",
    // assignment replay = km1's oracle (quantize, literal centroids,
    // integer L2^2, ties to lowest cid); quotas = mix1's sqrt
    // discipline; per-cluster rank = row_number over (dist2, vec_id)
    "clb1_cluster_balanced" ->
      """WITH mx AS (SELECT max(list_max(list_transform(
                  CAST(embedding AS DOUBLE[]), x -> abs(x)))) / 127.0
                  AS scale FROM embeddings),
         qv AS (SELECT vec_id,
                  CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
                       ELSE list_transform(v,
                         x -> CAST(FLOOR(x / scale + 0.5) AS INT)) END AS qvec
                FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                      FROM embeddings) CROSS JOIN mx),
         c AS (SELECT vec_id AS cid, qvec AS cvec FROM qv WHERE vec_id < 8),
         d AS (SELECT qv.vec_id, c.cid,
                 CAST(list_inner_product(qv.qvec, qv.qvec)
                    - 2 * list_inner_product(qv.qvec, c.cvec)
                    + list_inner_product(c.cvec, c.cvec) AS BIGINT) AS dist2
               FROM qv CROSS JOIN c),
         a AS (SELECT vec_id, CAST(cid AS INT) AS cluster, dist2
               FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                       ORDER BY dist2, cid) AS rn FROM d)
               WHERE rn = 1),
         sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_c
                FROM a GROUP BY cluster),
         wr AS (SELECT cluster, n_c,
                  round(sqrt(CAST(n_c AS DOUBLE)), 9) AS wr9 FROM sz),
         nrm AS (SELECT CAST(sum(CAST(wr9 AS DECIMAL(28,9))) AS DOUBLE)
                   AS sw FROM wr),
         qt AS (SELECT cluster,
                  greatest(CAST(1 AS BIGINT),
                    CAST(round(64.0 * wr9 / sw, 0) AS BIGINT)) AS quota
                FROM wr CROSS JOIN nrm),
         r AS (SELECT a.*, row_number() OVER (PARTITION BY cluster
                 ORDER BY dist2, vec_id) AS rk FROM a)
         SELECT cluster, CAST(rk AS BIGINT) AS rk, vec_id, dist2
         FROM r JOIN qt USING (cluster) WHERE rk <= quota""",
    "kc1_kcenter_coreset" ->
      ("""WITH v AS MATERIALIZED (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         s1 AS MATERIALIZED (
           SELECT [vec_id] AS ids, [v] AS vs, [0.0] AS ds
           FROM v ORDER BY vec_id LIMIT 1)""" +
      (2 to 8).map(kcOracleStage).mkString +
      """
         SELECT CAST(i AS INT) AS rank, ids[i] AS vec_id,
                ds[i] + 0.0 AS dist9
         FROM s8, unnest(range(1, 9)) AS u(i)"""))
}
