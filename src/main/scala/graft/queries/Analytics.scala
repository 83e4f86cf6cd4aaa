package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.similarity.{Pca, Similarity}
import graft.text.{Search, TextFunctions}

/** Corpus-analytics / retrieval-fusion / drift-statistics queries —
  * the round-8 additions on top of [[Extensions]]: per-document
  * information measures, composite quality gating, word-association
  * mining, OLS trend fitting, two-sample distribution drift, hybrid
  * (lexical+dense) retrieval, hard-negative mining for contrastive
  * training, and a distributed power-iteration PCA.
  *
  * Cross-engine float discipline follows the proven patterns:
  * per-term `round(·, 6)` -> exact DECIMAL sum -> cast double (the
  * t10/t13 pattern) wherever a float sum's combine order could move a
  * digit, and exact-DECIMAL sums + identical rational formulas (the
  * a18 pattern) for the regression/drift statistics.
  */
object Analytics extends QueryModule {

  // ---- ent1: per-document word entropy ------------------------------

  /** Shannon entropy (nats) of each document's word distribution — the
    * repetition/templating signal: low entropy = a few tokens dominate.
    * Shape: token explode -> (doc, word) counts -> per-doc decimal sum
    * of p·ln(1/p). Two partial-aggregating shuffles on (doc, word) and
    * doc; nothing pairwise, so the 100 TB cost is the token stream's
    * two aggregations.
    */
  def ent1WordEntropy(s: SparkSession, d: String): DataFrame =
    wordEntropyOn(Tables.documents(s, d))

  /** Frame-parameterized core: the query over any documents frame. */
  private[graft] def wordEntropyOn(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .filter(col("token") =!= "")
    val tf = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("n"))
    tf.join(dl, "doc_id")
      .withColumn("__h",
        round((col("tf").cast("double") / col("n")) *
          log(col("n").cast("double") / col("tf")), 6)
          .cast("decimal(18,6)"))
      .groupBy(col("doc_id"), col("n"))
      .agg(count(lit(1)).as("n_distinct"),
        sum(col("__h")).cast("double").as("entropy_nats"))
      .select(col("doc_id"), col("n").as("n_tokens"),
        col("n_distinct"), col("entropy_nats"))
  }

  // ---- reg1: per-group OLS trend ------------------------------------

  /** Per-event-type OLS fit of value against time (hours since
    * 2024-01-01T00Z) — the drift/trend detector over a metric stream.
    * All sums are exact DECIMAL partial aggregates (x and x² are
    * integers, value is 2-decimal); slope/intercept are then identical
    * rational formulas of identical doubles on both engines (the a18
    * discipline). One partial-aggregating shuffle of 5 groups.
    */
  def reg1GroupLinreg(s: SparkSession, d: String): DataFrame = {
    // hours since 2024-01-01T00:00Z; 1704067200 s / 3600 = 473352
    val x = floor(col("ts").cast("long") / 3600) - lit(473352L)
    val y = col("value")
    val sums = Tables.events(s, d)
      .select(col("event_type"), x.as("x"), y.as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(18,0)")).cast("double").as("sx"),
        sum(col("y").cast("decimal(18,2)")).cast("double").as("sy"),
        sum((col("x") * col("x")).cast("decimal(27,0)")).cast("double").as("sxx"),
        sum((col("x") * col("y")).cast("decimal(27,2)")).cast("double").as("sxy"))
    val nd = col("n").cast("double")
    sums.select(col("event_type"), col("n"),
      ((nd * col("sxy") - col("sx") * col("sy")) /
        nullif(nd * col("sxx") - col("sx") * col("sx"), lit(0.0)))
        .as("slope"),
      ((col("sy") - ((nd * col("sxy") - col("sx") * col("sy")) /
        nullif(nd * col("sxx") - col("sx") * col("sx"), lit(0.0)))
        * col("sx")) / nd).as("intercept"))
  }

  // ---- ks1: two-sample distribution drift ---------------------------

  /** Exact two-sample Kolmogorov–Smirnov statistic between the value
    * distributions of two event types — the data-drift gate between a
    * reference and a candidate slice. The global ordered scan runs on
    * the DISTINCT-VALUE aggregate (the compression step: tied values
    * collapse before any ordering), so the window input is |distinct
    * values|, not |rows|; for unbounded domains the engine's KLL
    * sketch family (kll1) is the bounded-error path. ECDF fractions
    * are rationals of exact counts -> identical doubles cross-engine.
    */
  def ks1Drift(s: SparkSession, d: String): DataFrame = {
    val byVal = Tables.events(s, d)
      .filter(col("event_type").isin("click", "view"))
      .groupBy(col("value"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("ca"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("cb"))
    val tot = broadcast(byVal.agg(sum(col("ca")).as("n_a"),
      sum(col("cb")).as("n_b")))
    // both ECDFs in ONE distributed prefix pass over the
    // distinct-value aggregate (raw values scale ~ rows; a global
    // window would single-task-sort them)
    graft.ops.GlobalRank.prefixScan(byVal, Seq(col("value")), Seq(
        graft.ops.GlobalRank.Scan("sa", col("ca")),
        graft.ops.GlobalRank.Scan("sb", col("cb"))))
      .crossJoin(tot)
      .select(col("n_a"), col("n_b"),
        abs(col("sa").cast("double") / col("n_a") -
          col("sb").cast("double") / col("n_b")).as("dd"))
      .groupBy(col("n_a"), col("n_b"))
      .agg(max(col("dd")).as("ks_stat"))
  }

  // ---- cooc1: PMI word association ----------------------------------

  /** Pointwise mutual information of adjacent word pairs — the
    * phrase-detection statistic (word2vec-style collocation mining).
    * Marginals are positional (w1 as left, w2 as right); support
    * floor n_pair >= 5. Grouped counts + two broadcast marginal
    * joins; the corpus is touched once.
    */
  def cooc1Pmi(s: SparkSession, d: String): DataFrame =
    pmiOn(Tables.documents(s, d))

  private[graft] def pmiOn(docs: DataFrame): DataFrame = {
    val toks = docs.select(
      split(lower(trim(col("text"))), "\\s+").as("t"))
    val pairs = toks.select(explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1"), col("p.w2"))
    val pairCnt = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_pair"))
    val left = pairs.groupBy(col("w1")).agg(count(lit(1)).as("n_w1"))
    val right = pairs.groupBy(col("w2")).agg(count(lit(1)).as("n_w2"))
    val tot = broadcast(pairs.agg(count(lit(1)).as("n_total")))
    pairCnt.filter(col("n_pair") >= 5)
      .join(broadcast(left), "w1")
      .join(broadcast(right), "w2")
      .crossJoin(tot)
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"), col("n_w2"),
        round(log((col("n_total") * col("n_pair")).cast("double") /
          (col("n_w1") * col("n_w2"))), 6).as("pmi"))
  }

  // ---- qf1: composite quality rules ---------------------------------

  /** Gopher-style composite quality gate: the standard document
    * filters (length band, mean-word-length band, stopword floor,
    * line-repetition cap) as one row of per-rule flags plus the final
    * keep verdict — the auditable form of corpus filtering (you keep
    * the flags, not just the survivors). Every rule is a rational of
    * exact counts compared to a literal threshold, so the verdicts are
    * engine-exact. Single scan, no shuffle.
    */
  def qf1QualityRules(s: SparkSession, d: String): DataFrame =
    qualityRulesOn(Tables.documents(s, d))

  private[graft] def qualityRulesOn(docs: DataFrame): DataFrame = {
    val t = col("text")
    val nWords = TextFunctions.tokenCount(t)
    val meanLen = TextFunctions.meanTokenLen(t)
    val nStop = TextFunctions.stopwordCount(t)
    val rep = TextFunctions.lineRepetitionRatio(t)
    val fLen = nWords.geq(20) && nWords.leq(100000)
    val fMean = meanLen.geq(3.0) && meanLen.leq(10.0)
    val fStop = nStop.geq(2)
    val fRep = rep < 0.3
    docs.select(
      col("doc_id"),
      nWords.cast("int").as("n_words"),
      fLen.cast("int").as("f_len"),
      fMean.cast("int").as("f_meanlen"),
      fStop.cast("int").as("f_stop"),
      fRep.cast("int").as("f_rep"),
      (fLen && fMean && fStop && fRep).cast("int").as("keep"))
  }

  // ---- rrf1: hybrid lexical+dense retrieval -------------------------

  /** Reciprocal-rank fusion of BM25 (lexical) and embedding-cosine
    * (dense) rankings — hybrid retrieval, the production shape of
    * corpus search: rrf = Σ_systems 1/(60 + rank), docs ranked by
    * either system fuse via full outer join on the doc id. Both
    * per-system rankings are top-50 TakeOrdered reductions (k rows to
    * the driver merge, no global sort); the fusion join touches at
    * most 100 rows.
    */
  def rrf1RankFusion(s: SparkSession, d: String): DataFrame = {
    val kSys = 50
    val docs = Tables.documents(s, d).filter(col("doc_id") =!= 0)
    val lex = Search.bm25TopK(docs, Seq("hash", "join", "vector"), k = kSys)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val emb = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
    val qv = Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val dense = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qv, kSys)
      .withColumn("dense_rank",
        row_number().over(Window.orderBy(col("sim").desc, col("vec_id"))))
      .select(col("vec_id").as("doc_id"), col("dense_rank"))
    val fused = lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("dense_rank"),
        (coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("dense_rank")), lit(0.0)))
          .as("rrf"))
    fused.orderBy(col("rrf").desc, col("doc_id")).limit(20)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("rrf").desc, col("doc_id")))
          .cast("int"))
      .select(col("rank"), col("doc_id"), col("lex_rank"), col("dense_rank"),
        round(col("rrf"), 6).as("rrf6"))
  }

  // ---- hn1: hard-negative mining ------------------------------------

  /** Hard negatives for contrastive training: for each query vector,
    * the top-5 most-similar vectors with a DIFFERENT label — maximal
    * cosine, wrong class. The query side (3 rows) broadcasts; the
    * corpus is scanned once and reduced per query by rank. At fleet
    * scale the per-query reduction is [[Similarity.batchTopK]]'s
    * bounded-heap shape; the window here runs over 3 partitions.
    */
  def hn1HardNegatives(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = broadcast(emb.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("embedding").as("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    emb.crossJoin(q)
      .filter(col("label") =!= col("qlabel") && col("vec_id") =!= col("query_id"))
      .withColumn("sim", Similarity.cosine(col("embedding"), col("qv")))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id"), col("label"),
        round(col("sim"), 4).as("sim4"))
  }

  // ---- pca1: distributed power-iteration PCA ------------------------

  /** 1-D projection of the embedding corpus onto its top principal
    * component ([[graft.similarity.Pca]]): fixed 8-round power
    * iteration, all-ones deterministic start, 9dp-requantized means
    * and iterates (the bt1/g2 cross-engine fixed-point discipline).
    * SQL dual: the 8 rounds unroll into t1/v1..t8/v8 CTE pairs —
    * per-pos covariance-action sums (round(sum/n, 9) absorbs combine-
    * order noise), then an exact normalize; the final projection is
    * the same sequential fold on both sides. AnalyticsSpec replays the
    * iteration locally and checks the eigenvalue dominates every
    * coordinate axis variance.
    */
  def pca1Power(s: SparkSession, d: String): DataFrame =
    Pca.projectTop(Tables.embeddings(s, d), "vec_id", "embedding",
        dim = 64, iters = 8)
      // + 0.0 normalizes IEEE -0.0: a near-zero projection whose last
      // bits differ cross-engine can round to 0.0 on one side and
      // -0.0 on the other (caught at sf0.1), and the canonicalizer
      // stringifies them differently
      .select(col("vec_id"), (round(col("proj"), 4) + lit(0.0)).as("proj4"))

  // ---- reg2: multivariate OLS, fully declarative --------------------

  /** Two-feature (+intercept) OLS fit y = w0 + w1·x1 + w2·x2 solved
    * ENTIRELY inside the plan: the normal-equations moments are one
    * exact-DECIMAL aggregation (features/target are integers, so the
    * sums are exact), and the 3x3 solve is Cramer's rule as column
    * expressions over that single row — no driver-side linear algebra,
    * no second pass until the residual RMSE re-scan (whose per-row
    * squared error is rounded then DECIMAL-summed, combine-order-
    * proof). Every arithmetic step is an identical rational of
    * identical doubles cross-engine, so even the 12-term determinants
    * match bit-for-bit. Fitting cost at 100 TB: one scan + a 1-row
    * shuffle, then one scan for the fit diagnostics.
    */
  def reg2Multireg(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast("long").as("x1"),
      TextFunctions.stopwordCount(col("text")).cast("long").as("x2"),
      col("n_chars").as("y"))
    def dsum(c: org.apache.spark.sql.Column) =
      sum(c.cast("decimal(27,0)")).cast("double")
    val m = docs.agg(
      count(lit(1)).cast("double").as("n"),
      dsum(col("x1")).as("s1"), dsum(col("x2")).as("s2"),
      dsum(col("y")).as("sy"),
      dsum(col("x1") * col("x1")).as("s11"),
      dsum(col("x1") * col("x2")).as("s12"),
      dsum(col("x2") * col("x2")).as("s22"),
      dsum(col("x1") * col("y")).as("s1y"),
      dsum(col("x2") * col("y")).as("s2y"))
    // A = [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]], b = [sy,s1y,s2y];
    // Cramer: w_i = det(A with column i replaced by b) / det(A)
    def det3(a: Column, b: Column, c: Column,
             d_ : Column, e: Column, f: Column,
             g: Column, h: Column, i: Column): Column =
      a * (e * i - f * h) - b * (d_ * i - f * g) + c * (d_ * h - e * g)
    val w = m.select(
      det3(col("n"), col("s1"), col("s2"),
        col("s1"), col("s11"), col("s12"),
        col("s2"), col("s12"), col("s22")).as("det"),
      det3(col("sy"), col("s1"), col("s2"),
        col("s1y"), col("s11"), col("s12"),
        col("s2y"), col("s12"), col("s22")).as("d0"),
      det3(col("n"), col("sy"), col("s2"),
        col("s1"), col("s1y"), col("s12"),
        col("s2"), col("s2y"), col("s22")).as("d1"),
      det3(col("n"), col("s1"), col("sy"),
        col("s1"), col("s11"), col("s1y"),
        col("s2"), col("s12"), col("s2y")).as("d2"))
      .select((col("d0") / col("det")).as("w0"),
        (col("d1") / col("det")).as("w1"),
        (col("d2") / col("det")).as("w2"))
    val fit = docs.crossJoin(broadcast(w))
      .withColumn("__e2", round(
        (col("y") - col("w0") - col("w1") * col("x1") -
          col("w2") * col("x2")) *
        (col("y") - col("w0") - col("w1") * col("x1") -
          col("w2") * col("x2")), 6).cast("decimal(27,6)"))
      .groupBy(col("w0"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"), sum(col("__e2")).cast("double").as("sse"))
    fit.select(round(col("w0"), 6).as("w0_6"), round(col("w1"), 6).as("w1_6"),
      round(col("w2"), 6).as("w2_6"), col("n"),
      round(sqrt(col("sse") / col("n")), 6).as("rmse6"))
  }

  // ---- ks2: per-slice drift monitor ---------------------------------

  /** Production drift monitoring: each day's click-value distribution
    * scored against the whole-period reference by binned-CDF
    * sup-distance (bin = floor(value/10); exact integer counts ->
    * rational CDFs). The reference CDF is a 50-row broadcast; daily
    * CDFs cumulate inside per-day window partitions — fully parallel
    * across days, no global ordering anywhere. The KLL/ks1 pair covers
    * the exact-distribution variants; this is the bounded-state shape
    * that runs per-slice at fleet scale.
    */
  def ks2DailyDrift(s: SparkSession, d: String): DataFrame = {
    val clicks = Tables.events(s, d).filter(col("event_type") === "click")
      .select(col("ts").cast("date").as("day"),
        floor(col("value") / 10).cast("int").as("bin"))
    val refCdf = clicks.groupBy(col("bin")).agg(count(lit(1)).as("rc"))
      .withColumn("rcum", sum(col("rc")).over(
        Window.orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(clicks.agg(count(lit(1)).as("rn"))))
      .select(col("bin"), (col("rcum").cast("double") / col("rn")).as("ref_cdf"))
    val daily = clicks.groupBy(col("day"), col("bin"))
      .agg(count(lit(1)).as("dc"))
    val dayTot = clicks.groupBy(col("day")).agg(count(lit(1)).as("dn"))
    // evaluate at EVERY reference bin (the union of all jump points):
    // the (day x bin) grid left-joins the day's counts, the per-day
    // window cum carries the day's CDF across its absent bins — a true
    // sup, not a sup over the day's own support only
    val grid = dayTot.crossJoin(broadcast(refCdf))
      .join(daily, Seq("day", "bin"), "left")
      .withColumn("dcum", sum(coalesce(col("dc"), lit(0L))).over(
        Window.partitionBy(col("day")).orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    grid
      .select(col("day"), col("dn"),
        abs(col("dcum").cast("double") / col("dn") - col("ref_cdf")).as("dd"))
      .groupBy(col("day"), col("dn"))
      .agg(round(max(col("dd")), 9).as("drift"))
      .select(col("day"), col("dn").as("n_day"), col("drift"))
  }

  // ---- ks3: windowed drift, streaming-safe shape --------------------

  /** Same drift statistic as ks2, restructured as the SINGLE-
    * aggregation histogram-vector plan that Structured Streaming
    * accepts ([[graft.streaming.EventStreams.binnedWindowDrift]] —
    * chained aggregations and window functions are illegal on
    * streams). Two different plans, one oracle: ks3 shares ks2's SQL
    * dual verbatim, and AnalyticsSpec asserts batch ks3 == ks2
    * bit-for-bit; StreamingSpec runs the same definition over a
    * MemoryStream against its batch dual.
    */
  def ks3WindowedDrift(s: SparkSession, d: String): DataFrame = {
    val clicks = Tables.events(s, d).filter(col("event_type") === "click")
    val nBins = 50
    // whole-period reference CDF, exact longs -> identical doubles
    val counts = clicks
      .groupBy(least(floor(col("value") / 10).cast("int"), lit(nBins - 1))
        .as("bin"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = counts.values.sum.toDouble
    val cum = (0 until nBins).scanLeft(0L)((a, b) =>
      a + counts.getOrElse(b, 0L)).tail
    val refCdf = cum.map(_ / total)
    graft.streaming.EventStreams.binnedWindowDrift(clicks, refCdf)
  }

  // ---- nrm1: per-group z-score normalization ------------------------

  /** Z-score normalization of the metric within its group — the
    * feature-engineering staple. Group stats come from exact DECIMAL
    * sums (a18 discipline: population stddev as an identical rational
    * of identical doubles), broadcast-joined back onto the row stream,
    * so the corpus is scanned once and shuffled zero times for the
    * normalization itself.
    */
  def nrm1Zscore(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val stats = broadcast(ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sx"),
        sum((col("value") * col("value")).cast("decimal(27,4)"))
          .cast("double").as("sxx")))
    ev.join(stats, "event_type")
      .select(col("event_id"), col("event_type"),
        ((col("value") - col("sx") / col("n")) /
          nullif(sqrt(col("sxx") / col("n") -
            (col("sx") / col("n")) * (col("sx") / col("n"))), lit(0.0)))
          .as("zscore"))
  }

  // ---- coh1: cohort retention ---------------------------------------

  /** Cohort retention: users grouped by first-seen day, distinct-user
    * counts per week offset — the long-format retention matrix. Two
    * shuffles (per-user min, then per-cell distinct count), both
    * partial-aggregating; dates are integer arithmetic, engine-exact.
    */
  def coh1Cohort(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts").cast("date").as("day"))
    val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ev.join(first, "user_id")
      .select(col("user_id"), col("cohort_day"),
        floor(datediff(col("day"), col("cohort_day")) / 7).cast("int").as("wk"))
      .groupBy(col("cohort_day"), col("wk"))
      .agg(count_distinct(col("user_id")).as("n_users"))
  }

  // ---- fun1: sequential conversion funnel ---------------------------

  /** Strict-order funnel click -> view -> purchase: each stage's entry
    * time is the user's first qualifying event AFTER the previous
    * stage's entry. Three per-user min-aggregations chained by joins on
    * the user key (the natural co-partitioned shape — at scale all
    * three aggregate on the same key, so AQE reuses one exchange);
    * output is the stage-count summary row.
    */
  def fun1Funnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val c = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val v = ev.filter(col("event_type") === "view").join(c, "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val p = ev.filter(col("event_type") === "purchase").join(v, "user_id")
      .filter(col("ts") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    val nAll = ev.select(count_distinct(col("user_id")).as("n"))
    nAll.crossJoin(broadcast(c.agg(count(lit(1)).as("n_click"))))
      .crossJoin(broadcast(v.agg(count(lit(1)).as("n_view_after"))))
      .crossJoin(broadcast(p.agg(count(lit(1)).as("n_purchase_after"))))
      .select(col("n").as("n_users"), col("n_click"),
        col("n_view_after"), col("n_purchase_after"))
  }

  // ---- sub1: trigram-indexed substring search -----------------------

  /** LIKE '%vector%' answered by trigram posting intersection + exact
    * confirm ([[graft.text.Search.substringSearch]]); the oracle is
    * the plain full-scan contains — same rows, exact occurrence
    * counts, two very different plans.
    */
  def sub1TrigramSearch(s: SparkSession, d: String): DataFrame =
    Search.substringSearch(Tables.documents(s, d), "vector")

  // ---- mmr1: diversified rerank -------------------------------------

  /** Maximal-marginal-relevance diversification of the dense top-50
    * ([[Similarity.mmrRerank]]): the retrieval stack's final hop —
    * distributed top-N reduces the corpus, the bounded greedy rerank
    * trades relevance for coverage (lambda = 0.7). SQL dual: the
    * k = 10 greedy unrolls into 10 CTE stages (bt1's unrolled-
    * iteration trick) carrying (ids, vs, rels, scores) lists; every
    * cosine on both sides is the SAME sequential double accumulation
    * (ArrayDot / driver loop vs list_reduce), so argmax choices are
    * bit-identical and the 6dp-rounded output hash-matches.
    */
  def mmr1Diversified(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
    val qv = Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qv, 50)
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
    Similarity.mmrRerank(top, "vec_id", "embedding", "sim",
      k = 10, lambda = 0.7)
  }

  // ---- pca2: 2-D corpus map -----------------------------------------

  /** Top-2 principal components via FUSED block subspace iteration
    * ([[graft.similarity.Pca.projectTop2]]): one aggregation job per
    * round advances BOTH directions from the same cached scan (15
    * jobs, not 30), Gram-Schmidt keeping u orthogonal to the current
    * v. SQL dual (see [[pca2OracleSql]]): both 15-round unrolls as
    * CTE pairs with the driver's exact requantization points, the
    * per-round orthogonalization and Rayleigh-Ritz rotation included.
    * AnalyticsSpec additionally checks component orthogonality.
    */
  def pca2Top2Map(s: SparkSession, d: String): DataFrame =
    // 15 rounds per component (vs pca1's 8): the synthetic embeddings
    // have a small spectral gap, so the SUBSPACE needs the extra
    // rounds — but the exact decorrelation of the output comes from
    // the closed-form Rayleigh-Ritz rotation, not from iterating the
    // individual eigenvectors to convergence
    Pca.projectTop2(Tables.embeddings(s, d), "vec_id", "embedding",
        dim = 64, iters = 15)
      // + 0.0: same -0.0 normalization as pca1
      .select(col("vec_id"), (round(col("p1"), 4) + lit(0.0)).as("p1_4"),
        (round(col("p2"), 4) + lit(0.0)).as("p2_4"))

  // ---- w5: winsorized robust mean -----------------------------------

  /** Winsorization: clip the metric to its group's [p05, p95] band
    * before averaging — the outlier-robust mean every metrics pipeline
    * reaches for. Exact interpolated percentiles (a15's cross-engine
    * contract) broadcast back over the row stream; clipped values are
    * rounded then DECIMAL-summed so the combine order can't move a
    * digit. One scan + a 5-group aggregate.
    */
  def w5Winsorize(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val stats = broadcast(ev.groupBy(col("event_type")).agg(
      expr("percentile(value, 0.05)").as("lo"),
      expr("percentile(value, 0.95)").as("hi")))
    ev.join(stats, "event_type")
      .withColumn("__w",
        round(least(greatest(col("value"), col("lo")), col("hi")), 6)
          .cast("decimal(18,6)"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(col("__w")).cast("double") / count(lit(1)))
          .as("winsorized_mean"))
  }

  // ---- tw1: time-weighted average -----------------------------------

  /** Time-weighted mean of the metric per user: each observation is
    * weighted by how long it was "current" (milliseconds until the
    * user's next event; the open-ended last observation drops out) —
    * the correct average for irregularly-sampled state. Durations are
    * exact integer millis (floored identically on both engines),
    * products exact DECIMALs whose SCALED magnitude stays under 2^53:
    * that bound is load-bearing — above it, a decimal->double cast is
    * no longer exact and DuckDB's int128-then-divide path double-
    * rounds where the JVM's BigDecimal rounds once (observed: last-ulp
    * mismatches with microsecond weights at 1e16 scaled units). One
    * window pass on the user key, one partial-aggregating shuffle.
    */
  def tw1TimeWeighted(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("__next", lead(col("ts"), 1).over(w))
      .filter(col("__next").isNotNull)
      .withColumn("__dur", expr(
        "(unix_micros(__next) - unix_micros(ts)) div 1000"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        (sum(col("value").cast("decimal(18,2)") *
            col("__dur").cast("decimal(18,0)"))
          .cast("double") /
          sum(col("__dur")).cast("double")).as("tw_mean"))
  }

  // ---- ab1: two-proportion z-test -----------------------------------

  /** A/B-test primitive: the pooled two-proportion z statistic between
    * two slices ("conversion" = value > 100, click vs view). Every
    * term is a rational of exact counts, so the statistic is
    * bit-identical cross-engine with no rounding discipline needed.
    * One tiny aggregation; the row stream is touched once.
    */
  def ab1TwoProportion(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("click", "view"))
    val agg = ev.agg(
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n1"),
      sum(when(col("event_type") === "click" && col("value") > 100, 1L)
        .otherwise(0L)).as("x1"),
      sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n2"),
      sum(when(col("event_type") === "view" && col("value") > 100, 1L)
        .otherwise(0L)).as("x2"))
    val (n1, x1, n2, x2) =
      (col("n1").cast("double"), col("x1").cast("double"),
        col("n2").cast("double"), col("x2").cast("double"))
    val p1 = x1 / n1
    val p2 = x2 / n2
    val pp = (x1 + x2) / (n1 + n2)
    agg.select(col("n1"), col("x1"), col("n2"), col("x2"),
      p1.as("p1"), p2.as("p2"),
      ((p1 - p2) /
        sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / n1 + lit(1.0) / n2)))
        .as("z_stat"))
  }

  // ---- mk1: behavioral transition matrix ----------------------------

  /** Per-corpus Markov transition statistics over user event
    * sequences: P(next event type | current), from lead-window bigrams
    * ordered by (ts, event_id) within each user. Counts are exact;
    * probabilities are rationals of counts. One window pass on the
    * user key + one grouped count — the sequence-mining shape that
    * scales as the event stream, not as users².
    */
  def mk1MarkovTransitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val bigrams = Tables.events(s, d)
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
    val fromCnt = bigrams.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_from"))
    bigrams.groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n_pair"))
      .join(broadcast(fromCnt), "event_type")
      .select(col("event_type"), col("next_type"), col("n_pair"),
        col("n_from"),
        (col("n_pair").cast("double") / col("n_from")).as("p_next"))
  }

  // ---- rfm1: RFM customer scoring -----------------------------------

  /** RFM (recency / frequency / monetary) scoring: per user, days
    * since last purchase, purchase count, and exact-decimal spend,
    * each quartiled into a 1-4 score by exact NTILE semantics over
    * deterministic orderings (w4's rank-derived-stat contract). The
    * aggregate is one user-key shuffle; the user table still scales
    * with the data, so each quartile assignment runs the distributed
    * rank kernel, not a global window.
    */
  def rfm1RfmScores(s: SparkSession, d: String): DataFrame = {
    val ref = to_date(lit("2024-02-01"))
    val per = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(datediff(ref, max(col("ts")).cast("date")).as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("monetary"))
    // exact-NTILE quartiles via the distributed rank kernel: users
    // are a row-scaling domain, so the three orderings each run the
    // two-level range-partition scan instead of a global window
    // (three sorts either way — but distributed, not single-task)
    val base = per.crossJoin(broadcast(per.agg(count(lit(1)).as("__n"))))
    def q(df: DataFrame, c: String, asc: Boolean, out: String): DataFrame =
      graft.ops.GlobalRank.prefixScan(df,
          Seq(if (asc) col(c).asc else col(c).desc, col("user_id")),
          Nil, rankCol = Some("__i"))
        .withColumn(out,
          graft.ops.GlobalRank.ntileFromRank(col("__i"), col("__n"), 4))
        .drop("__i")
    q(q(q(base, "recency_days", asc = true, "r_score"),
        "frequency", asc = false, "f_score"),
        "monetary", asc = false, "m_score")
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary"), col("r_score"), col("f_score"), col("m_score"))
  }

  // ---- chi1: chi-square independence --------------------------------

  /** Chi-square test of independence over the (event_type x
    * value-band) contingency table: expected cells from the marginals,
    * the statistic as a DECIMAL sum of per-cell rationals rounded at 9
    * (cells are few; the rounding only guards combine order). Two
    * grouped counts + a broadcast join of 3-row marginals.
    */
  def chi1ChisqIndependence(s: SparkSession, d: String): DataFrame = {
    val banded = Tables.events(s, d)
      .select(col("event_type"),
        when(col("value") < 50, "low")
          .when(col("value") < 200, "mid")
          .otherwise("high").as("band"))
    val cells = banded.groupBy(col("event_type"), col("band"))
      .agg(count(lit(1)).as("o"))
    val rowM = banded.groupBy(col("event_type")).agg(count(lit(1)).as("nr"))
    val colM = banded.groupBy(col("band")).agg(count(lit(1)).as("nc"))
    val tot = broadcast(banded.agg(count(lit(1)).as("n")))
    cells.join(broadcast(rowM), "event_type")
      .join(broadcast(colM), "band").crossJoin(tot)
      .select(
        round((col("o").cast("double") -
          col("nr").cast("double") * col("nc") / col("n")) *
          (col("o").cast("double") -
            col("nr").cast("double") * col("nc") / col("n")) /
          (col("nr").cast("double") * col("nc") / col("n")), 9)
          .cast("decimal(18,9)").as("term"),
        lit(1L).as("one"))
      .agg(count(col("one")).as("n_cells"),
        sum(col("term")).cast("double").as("chi_sq"))
  }

  // ---- registry ------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ent1_word_entropy" -> (ent1WordEntropy _),
    "reg1_group_linreg" -> (reg1GroupLinreg _),
    "ks1_drift" -> (ks1Drift _),
    "cooc1_pmi" -> (cooc1Pmi _),
    "qf1_quality_rules" -> (qf1QualityRules _),
    "rrf1_rank_fusion" -> (rrf1RankFusion _),
    "hn1_hard_negatives" -> (hn1HardNegatives _),
    "pca1_power" -> (pca1Power _),
    "nrm1_zscore" -> (nrm1Zscore _),
    "coh1_cohort" -> (coh1Cohort _),
    "fun1_funnel" -> (fun1Funnel _),
    "reg2_multireg" -> (reg2Multireg _),
    "ks2_daily_drift" -> (ks2DailyDrift _),
    "sub1_trigram_search" -> (sub1TrigramSearch _),
    "mmr1_diversified" -> (mmr1Diversified _),
    "pca2_top2_map" -> (pca2Top2Map _),
    "ks3_windowed_drift" -> (ks3WindowedDrift _),
    "w5_winsorize" -> (w5Winsorize _),
    "tw1_time_weighted" -> (tw1TimeWeighted _),
    "ab1_two_proportion" -> (ab1TwoProportion _),
    "mk1_markov_transitions" -> (mk1MarkovTransitions _),
    "rfm1_rfm_scores" -> (rfm1RfmScores _),
    "chi1_chisq_independence" -> (chi1ChisqIndependence _))

  /** mmr1's dual: the k = 10 greedy unrolled into CTE stages s1..s10
    * (built programmatically — each stage is identical modulo the
    * previous-stage name, like bt1's p0..p3 unroll). Stage k appends
    * the argmax-by-(score DESC, id) candidate to the carried
    * (ids, vs, rels, scores) lists; cosines are explicit sequential
    * list_reduce folds so they are bit-identical to the Spark side's
    * ArrayDot / driver-loop accumulation.
    */
  private val mmrOracleHead =
    """WITH v AS MATERIALIZED (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       q AS MATERIALIZED (SELECT v AS qv FROM v WHERE vec_id = 0),
       cand AS MATERIALIZED (
         SELECT vec_id AS id, v.v,
                COALESCE(list_reduce(list_transform(range(1, len(v.v) + 1),
                    i -> v.v[i] * qv[i]), (a, b) -> a + b)
                / NULLIF(sqrt(list_reduce(list_transform(range(1, len(v.v) + 1),
                     i -> v.v[i] * v.v[i]), (a, b) -> a + b))
                   * sqrt(list_reduce(list_transform(range(1, len(qv) + 1),
                     i -> qv[i] * qv[i]), (a, b) -> a + b)), 0.0), 0.0) AS rel
         FROM v, q WHERE vec_id <> 0
         ORDER BY rel DESC, vec_id LIMIT 50),
       s1 AS MATERIALIZED (
         SELECT [id] AS ids, [v] AS vs, [rel] AS rels,
                [0.7 * rel - (1.0 - 0.7) * 0.0] AS scores
         FROM cand ORDER BY 0.7 * rel - (1.0 - 0.7) * 0.0 DESC, id LIMIT 1)"""

  private def mmrOracleStage(k: Int): String =
    s""",
       s$k AS MATERIALIZED (
         SELECT list_append(ids, id) AS ids, list_append(vs, cv) AS vs,
                list_append(rels, rel) AS rels,
                list_append(scores, score) AS scores
         FROM (
           SELECT s.ids, s.vs, s.rels, s.scores, c.id, c.v AS cv, c.rel,
                  0.7 * c.rel - (1.0 - 0.7) * list_max(list_transform(s.vs, sv ->
                    COALESCE(list_reduce(list_transform(range(1, len(c.v) + 1),
                        i -> c.v[i] * sv[i]), (a, b) -> a + b)
                    / NULLIF(sqrt(list_reduce(list_transform(range(1, len(c.v) + 1),
                         i -> c.v[i] * c.v[i]), (a, b) -> a + b))
                       * sqrt(list_reduce(list_transform(range(1, len(sv) + 1),
                         i -> sv[i] * sv[i]), (a, b) -> a + b)), 0.0), 0.0))) AS score
           FROM s${k - 1} s JOIN cand c ON NOT list_contains(s.ids, c.id))
         QUALIFY row_number() OVER (ORDER BY score DESC, id) = 1)"""

  private val mmrOracleSql: String =
    mmrOracleHead + (2 to 10).map(mmrOracleStage).mkString +
      """
       SELECT CAST(i AS INT) AS rank, ids[i] AS vec_id,
              round(rels[i], 6) + 0.0 AS sim,
              round(scores[i], 6) + 0.0 AS mmr_score
       FROM s10, unnest(range(1, 11)) AS u(i)"""

  /** pca1's dual: 8 power-iteration rounds unrolled into t_k (per-pos
    * covariance-action sums, 9dp-requantized like the driver side) and
    * v_k (exact normalize) CTE pairs. Cosines/folds are sequential
    * list_reduce, bit-identical to ArrayDot.
    */
  private val pcaOracleHead =
    """WITH v AS MATERIALIZED (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
       mm AS MATERIALIZED (
         SELECT p, round(avg(x), 9) AS mp
         FROM (SELECT unnest(v) AS x, unnest(range(1, len(v) + 1)) AS p
               FROM v)
         GROUP BY p),
       ml AS MATERIALIZED (SELECT list(mp ORDER BY p) AS m FROM mm),
       c AS MATERIALIZED (
         SELECT vec_id,
                list_transform(range(1, len(v) + 1), i -> v[i] - m[i]) AS c
         FROM v, ml),
       v0 AS (SELECT list_transform(range(1, 65), i -> 0.125) AS vec)"""

  private def pcaOracleIter(k: Int): String =
    s""",
       t$k AS MATERIALIZED (
         SELECT p, round(sum(cp * d) / any_value(n), 9) AS cvp
         FROM (SELECT unnest(c.c) AS cp,
                      unnest(range(1, len(c.c) + 1)) AS p,
                      list_reduce(list_transform(range(1, len(c.c) + 1),
                          i -> c.c[i] * vec[i]), (a, b) -> a + b) AS d,
                      n
               FROM c, v${k - 1}, nn)
         GROUP BY p),
       v$k AS MATERIALIZED (
         SELECT list_transform(cv, x -> x / e) AS vec
         FROM (SELECT list(cvp ORDER BY p) AS cv,
                      sqrt(list_reduce(list_transform(list(cvp ORDER BY p),
                          x -> x * x), (a, b) -> a + b)) AS e
               FROM t$k))"""

  private val pcaOracleSql: String =
    pcaOracleHead + (1 to 8).map(pcaOracleIter).mkString +
      """
       SELECT vec_id,
              round(list_reduce(list_transform(range(1, len(c.c) + 1),
                  i -> c.c[i] * vec[i]), (a, b) -> a + b), 4) + 0.0 AS proj4
       FROM c, v8"""

  /** pca2's dual, mirroring the FUSED block subspace iteration: the
    * v-side t/v rounds are byte-identical to pca1's unroll (the u
    * update never feeds back into v), and each u round sources the
    * SAME centered column c, Gram-Schmidt-orthogonalizes against the
    * CURRENT round's v_k (raw sums -> sequential projection ->
    * subtract -> 9dp requantize -> normalize, exactly the driver's
    * operation order), then the Rayleigh-Ritz moments (9dp) and
    * rotation coefficients (12dp — atan2/cos/sin are not correctly-
    * rounded cross-library, so the last ulp is pinned on both sides).
    */
  private def pca2OracleIterV2(k: Int): String =
    s""",
       s$k AS MATERIALIZED (
         SELECT p, sum(cp * dd) / any_value(n) AS cvp0
         FROM (SELECT unnest(c.c) AS cp,
                      unnest(range(1, len(c.c) + 1)) AS p,
                      list_reduce(list_transform(range(1, len(c.c) + 1),
                          i -> c.c[i] * vec[i]), (a, b) -> a + b) AS dd,
                      n
               FROM c, u${k - 1}, nn)
         GROUP BY p),
       u$k AS MATERIALIZED (
         SELECT list_transform(cv, x -> x / e) AS vec
         FROM (SELECT cv,
                      sqrt(list_reduce(list_transform(cv, x -> x * x),
                          (a, b) -> a + b)) AS e
               FROM (SELECT list_transform(range(1, 65),
                         p -> round(cv0[p] - proj * w[p], 9)) AS cv
                     FROM (SELECT cv0,
                             list_reduce(list_transform(range(1, 65),
                                 p -> cv0[p] * w[p]), (a, b) -> a + b)
                               AS proj,
                             w
                           FROM (SELECT list(cvp0 ORDER BY p) AS cv0
                                 FROM s$k),
                                (SELECT vec AS w FROM v$k)))))"""

  private val pca2OracleSql: String = {
    val iters = 15
    pcaOracleHead +
      (1 to iters).map(pcaOracleIter).mkString +
      s""",
       u0 AS (SELECT list_transform(range(1, 65), i -> 0.125) AS vec)""" +
      (1 to iters).map(pca2OracleIterV2).mkString +
      s""",
       raw AS MATERIALIZED (
         SELECT c.vec_id,
                list_reduce(list_transform(range(1, len(c.c) + 1),
                    i -> c.c[i] * w1[i]), (a, b) -> a + b) AS q1,
                list_reduce(list_transform(range(1, len(c.c) + 1),
                    i -> c.c[i] * w2[i]), (a, b) -> a + b) AS q2
         FROM c, (SELECT vec AS w1 FROM v$iters),
                 (SELECT vec AS w2 FROM u$iters)),
       mom AS MATERIALIZED (
         SELECT CAST(count(*) AS DOUBLE) AS n,
                round(sum(q1), 9) AS s1, round(sum(q2), 9) AS s2,
                round(sum(q1 * q1), 9) AS s11,
                round(sum(q1 * q2), 9) AS s12,
                round(sum(q2 * q2), 9) AS s22
         FROM raw),
       cov AS (
         SELECT s11 / n - (s1 / n) * (s1 / n) AS c11,
                s12 / n - (s1 / n) * (s2 / n) AS c12,
                s22 / n - (s2 / n) * (s2 / n) AS c22
         FROM mom),
       coef AS (
         SELECT ct, st,
                ct * ct * c11 + 2 * ct * st * c12 + st * st * c22 AS l1,
                st * st * c11 - 2 * ct * st * c12 + ct * ct * c22 AS l2
         FROM (SELECT round(cos(0.5 * atan2(2 * c12, c11 - c22)), 12) AS ct,
                      round(sin(0.5 * atan2(2 * c12, c11 - c22)), 12) AS st,
                      c11, c12, c22
               FROM cov)),
       ab AS (
         SELECT CASE WHEN l1 >= l2 THEN ct ELSE -st END AS a1,
                CASE WHEN l1 >= l2 THEN st ELSE ct END AS b1,
                CASE WHEN l1 >= l2 THEN -st ELSE ct END AS a2,
                CASE WHEN l1 >= l2 THEN ct ELSE st END AS b2
         FROM coef)
       SELECT vec_id, round(a1 * q1 + b1 * q2, 4) + 0.0 AS p1_4,
              round(a2 * q1 + b2 * q2, 4) + 0.0 AS p2_4
       FROM raw, ab"""
  }

  val oracles: Map[String, String] = Map(
    "mmr1_diversified" -> mmrOracleSql,
    "pca1_power" -> pcaOracleSql,
    "pca2_top2_map" -> pca2OracleSql,
    "ent1_word_entropy" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
           FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
                WHERE token <> '' GROUP BY 1, 2),
         dl AS (SELECT doc_id, sum(tf) AS n FROM tf GROUP BY 1)
         SELECT t.doc_id, CAST(n AS BIGINT) AS n_tokens,
                count(*) AS n_distinct,
                CAST(SUM(CAST(round((CAST(tf AS DOUBLE) / n) *
                    ln(CAST(n AS DOUBLE) / tf), 6) AS DECIMAL(18,6)))
                  AS DOUBLE) AS entropy_nats
         FROM tf t JOIN dl USING (doc_id)
         GROUP BY t.doc_id, n""",
    "reg1_group_linreg" ->
      """WITH pts AS (
           SELECT event_type,
                  CAST(floor(epoch(ts) / 3600) AS BIGINT) - 473352 AS x,
                  value AS y
           FROM events),
         s AS (
           SELECT event_type, count(*) AS n,
                  CAST(SUM(CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sx,
                  CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                  CAST(SUM(CAST(x * x AS DECIMAL(27,0))) AS DOUBLE) AS sxx,
                  CAST(SUM(CAST(x * y AS DECIMAL(27,2))) AS DOUBLE) AS sxy
           FROM pts GROUP BY event_type)
         SELECT event_type, n,
                (CAST(n AS DOUBLE) * sxy - sx * sy) /
                  nullif(CAST(n AS DOUBLE) * sxx - sx * sx, 0.0) AS slope,
                (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) /
                  nullif(CAST(n AS DOUBLE) * sxx - sx * sx, 0.0)) * sx)
                  / CAST(n AS DOUBLE) AS intercept
         FROM s""",
    "ks1_drift" ->
      """WITH bv AS (
           SELECT value,
                  count(*) FILTER (WHERE event_type = 'click') AS ca,
                  count(*) FILTER (WHERE event_type = 'view') AS cb
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY value),
         cum AS (SELECT value,
                  sum(ca) OVER (ORDER BY value) AS sa,
                  sum(cb) OVER (ORDER BY value) AS sb
                 FROM bv),
         tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                        CAST(sum(cb) AS BIGINT) AS n_b FROM bv)
         SELECT n_a, n_b,
                max(abs(CAST(sa AS DOUBLE) / n_a -
                        CAST(sb AS DOUBLE) / n_b)) AS ks_stat
         FROM cum, tot GROUP BY n_a, n_b""",
    "cooc1_pmi" ->
      """WITH t AS (
           SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
           FROM documents),
         pairs AS (
           SELECT t[i] AS w1, t[i + 1] AS w2
           FROM t, unnest(range(1, len(t))) AS r(i)),
         pc AS (SELECT w1, w2, count(*) AS n_pair FROM pairs GROUP BY 1, 2),
         l AS (SELECT w1, count(*) AS n_w1 FROM pairs GROUP BY 1),
         r AS (SELECT w2, count(*) AS n_w2 FROM pairs GROUP BY 1),
         tot AS (SELECT count(*) AS n_total FROM pairs)
         SELECT w1, w2, n_pair, n_w1, n_w2,
                round(ln(CAST(n_total * n_pair AS DOUBLE) /
                  (n_w1 * n_w2)), 6) AS pmi
         FROM pc JOIN l USING (w1) JOIN r USING (w2), tot
         WHERE n_pair >= 5""",
    "qf1_quality_rules" ->
      """WITH m AS (
           SELECT doc_id,
                  len(regexp_split_to_array(trim(text), '\s+')) AS nw,
                  CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                    / len(regexp_split_to_array(trim(text), '\s+')) AS ml,
                  len(regexp_extract_all(lower(text),
                    '\b(the|a|an|of|and|in|to|is|for|on)\b')) AS ns,
                  1.0 - CAST(len(list_distinct(str_split(text, chr(10))))
                    AS DOUBLE) / len(str_split(text, chr(10))) AS rep
           FROM documents)
         SELECT doc_id, CAST(nw AS INT) AS n_words,
                CAST(nw >= 20 AND nw <= 100000 AS INT) AS f_len,
                CAST(ml >= 3.0 AND ml <= 10.0 AS INT) AS f_meanlen,
                CAST(ns >= 2 AS INT) AS f_stop,
                CAST(rep < 0.3 AS INT) AS f_rep,
                CAST((nw >= 20 AND nw <= 100000) AND (ml >= 3.0 AND ml <= 10.0)
                  AND ns >= 2 AND rep < 0.3 AS INT) AS keep
         FROM m""",
    "rrf1_rank_fusion" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
           FROM documents WHERE doc_id <> 0),
         tok2 AS (SELECT * FROM toks WHERE term <> ''),
         dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY 1),
         stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
         tf AS (SELECT term, doc_id, count(*) AS tf FROM tok2
                WHERE term IN ('hash', 'join', 'vector') GROUP BY 1, 2),
         dfreq AS (SELECT *, count(*) OVER (PARTITION BY term) AS df FROM tf),
         scored AS (
           SELECT f.doc_id,
                  CAST(round(
                    ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) *
                    (tf * (1.2 + 1.0) / (tf + 1.2 * (1.0 - 0.75 +
                      0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs))))
                  , 6) AS DECIMAL(18,6)) AS contrib
           FROM dfreq f JOIN dl USING (doc_id), stats),
         lex AS (
           SELECT doc_id, CAST(row_number() OVER
                    (ORDER BY score DESC, doc_id) AS INT) AS lex_rank
           FROM (SELECT doc_id, CAST(sum(contrib) AS DOUBLE) AS score
                 FROM scored GROUP BY 1
                 ORDER BY score DESC, doc_id LIMIT 50)),
         q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         dense AS (
           SELECT vec_id AS doc_id, CAST(row_number() OVER
                    (ORDER BY sim DESC, vec_id) AS INT) AS dense_rank
           FROM (SELECT vec_id,
                        list_cosine_similarity(embedding, qv) AS sim
                 FROM embeddings, q WHERE vec_id <> 0
                 ORDER BY sim DESC, vec_id LIMIT 50)),
         fused AS (
           SELECT COALESCE(l.doc_id, de.doc_id) AS doc_id,
                  l.lex_rank, de.dense_rank,
                  COALESCE(1.0 / (60 + l.lex_rank), 0.0) +
                  COALESCE(1.0 / (60 + de.dense_rank), 0.0) AS rrf
           FROM lex l FULL OUTER JOIN dense de ON l.doc_id = de.doc_id)
         SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT)
                  AS rank,
                doc_id, lex_rank, dense_rank, round(rrf, 6) AS rrf6
         FROM fused ORDER BY rrf DESC, doc_id LIMIT 20""",
    "hn1_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, label AS qlabel,
                           embedding AS qv
                    FROM embeddings WHERE vec_id IN (0, 1, 2)),
         scored AS (
           SELECT q.query_id, e.vec_id, e.label,
                  list_cosine_similarity(e.embedding, q.qv) AS sim
           FROM embeddings e, q
           WHERE e.label <> q.qlabel AND e.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id, CAST(row_number() OVER
                    (PARTITION BY query_id ORDER BY sim DESC, vec_id)
                    AS INT) AS rank,
                  vec_id, label, round(CAST(sim AS DOUBLE), 4) AS sim4
           FROM scored)
         SELECT query_id, rank, vec_id, label, sim4
         FROM ranked WHERE rank <= 5""",
    "nrm1_zscore" ->
      """WITH s AS (
           SELECT event_type, count(*) AS n,
                  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                  CAST(SUM(CAST(value * value AS DECIMAL(27,4))) AS DOUBLE) AS sxx
           FROM events GROUP BY event_type)
         SELECT event_id, event_type,
                (value - sx / n) /
                  nullif(sqrt(sxx / n - (sx / n) * (sx / n)), 0.0) AS zscore
         FROM events JOIN s USING (event_type)""",
    "coh1_cohort" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
         first AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1)
         SELECT cohort_day,
                CAST(floor(date_diff('day', cohort_day, day) / 7) AS INT) AS wk,
                count(DISTINCT user_id) AS n_users
         FROM ev JOIN first USING (user_id)
         GROUP BY 1, 2""",
    "fun1_funnel" ->
      """WITH c AS (SELECT user_id, min(ts) AS t_click FROM events
                    WHERE event_type = 'click' GROUP BY 1),
         v AS (SELECT e.user_id, min(ts) AS t_view FROM events e
               JOIN c USING (user_id)
               WHERE event_type = 'view' AND ts > t_click GROUP BY 1),
         p AS (SELECT e.user_id, min(ts) AS t_purchase FROM events e
               JOIN v USING (user_id)
               WHERE event_type = 'purchase' AND ts > t_view GROUP BY 1)
         SELECT (SELECT count(DISTINCT user_id) FROM events) AS n_users,
                (SELECT count(*) FROM c) AS n_click,
                (SELECT count(*) FROM v) AS n_view_after,
                (SELECT count(*) FROM p) AS n_purchase_after""",
    "reg2_multireg" ->
      """WITH f AS (
           SELECT doc_id,
                  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS x1,
                  CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|of|and|in|to|is|for|on)\b')) AS BIGINT) AS x2,
                  n_chars AS y
           FROM documents),
         m AS (
           SELECT CAST(count(*) AS DOUBLE) AS n,
                  CAST(SUM(CAST(x1 AS DECIMAL(27,0))) AS DOUBLE) AS s1,
                  CAST(SUM(CAST(x2 AS DECIMAL(27,0))) AS DOUBLE) AS s2,
                  CAST(SUM(CAST(y AS DECIMAL(27,0))) AS DOUBLE) AS sy,
                  CAST(SUM(CAST(x1 * x1 AS DECIMAL(27,0))) AS DOUBLE) AS s11,
                  CAST(SUM(CAST(x1 * x2 AS DECIMAL(27,0))) AS DOUBLE) AS s12,
                  CAST(SUM(CAST(x2 * x2 AS DECIMAL(27,0))) AS DOUBLE) AS s22,
                  CAST(SUM(CAST(x1 * y AS DECIMAL(27,0))) AS DOUBLE) AS s1y,
                  CAST(SUM(CAST(x2 * y AS DECIMAL(27,0))) AS DOUBLE) AS s2y
           FROM f),
         w AS (
           SELECT
             (sy  * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
               + s2 * (s1y * s12 - s11 * s2y)) /
             (n   * (s11 * s22 - s12 * s12) - s1 * (s1  * s22 - s12 * s2)
               + s2 * (s1  * s12 - s11 * s2)) AS w0,
             (n   * (s1y * s22 - s12 * s2y) - sy * (s1  * s22 - s12 * s2)
               + s2 * (s1  * s2y - s1y * s2)) /
             (n   * (s11 * s22 - s12 * s12) - s1 * (s1  * s22 - s12 * s2)
               + s2 * (s1  * s12 - s11 * s2)) AS w1,
             (n   * (s11 * s2y - s1y * s12) - s1 * (s1  * s2y - s1y * s2)
               + sy * (s1  * s12 - s11 * s2)) /
             (n   * (s11 * s22 - s12 * s12) - s1 * (s1  * s22 - s12 * s2)
               + s2 * (s1  * s12 - s11 * s2)) AS w2
           FROM m),
         fit AS (
           SELECT w0, w1, w2, count(*) AS n,
                  CAST(SUM(CAST(round(
                    (y - w0 - w1 * x1 - w2 * x2) *
                    (y - w0 - w1 * x1 - w2 * x2), 6)
                    AS DECIMAL(27,6))) AS DOUBLE) AS sse
           FROM f, w GROUP BY w0, w1, w2)
         SELECT round(w0, 6) AS w0_6, round(w1, 6) AS w1_6,
                round(w2, 6) AS w2_6, n,
                round(sqrt(sse / n), 6) AS rmse6
         FROM fit""",
    "ks2_daily_drift" -> dailyDriftOracle,
    // ks3 computes the SAME statistic through the streaming-legal
    // single-aggregation plan — one oracle serves both formulations
    "ks3_windowed_drift" -> dailyDriftOracle,
    "sub1_trigram_search" ->
      """SELECT doc_id,
                CAST((length(text) -
                      length(replace(text, 'vector', ''))) / 6 AS INT)
                  AS n_occurrences
         FROM documents WHERE contains(text, 'vector')""",
    "w5_winsorize" ->
      """WITH st AS (
           SELECT event_type,
                  quantile_cont(value, 0.05) AS lo,
                  quantile_cont(value, 0.95) AS hi
           FROM events GROUP BY event_type)
         SELECT event_type, count(*) AS n,
                CAST(SUM(CAST(round(least(greatest(value, lo), hi), 6)
                  AS DECIMAL(18,6))) AS DOUBLE) / count(*)
                  AS winsorized_mean
         FROM events JOIN st USING (event_type)
         GROUP BY event_type""",
    "tw1_time_weighted" ->
      """WITH x AS (
           SELECT user_id, value,
                  (epoch_us(lead(ts) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id)) - epoch_us(ts)) // 1000
                    AS dur,
                  lead(ts) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS nxt
           FROM events)
         SELECT user_id, count(*) AS n_intervals,
                CAST(SUM(CAST(value AS DECIMAL(18,2)) *
                  CAST(dur AS DECIMAL(18,0))) AS DOUBLE) /
                CAST(SUM(dur) AS DOUBLE) AS tw_mean
         FROM x WHERE nxt IS NOT NULL
         GROUP BY user_id""",
    "ab1_two_proportion" ->
      """WITH a AS (
           SELECT
             CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n1,
             CAST(count(*) FILTER (WHERE event_type = 'click'
               AND value > 100) AS BIGINT) AS x1,
             CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n2,
             CAST(count(*) FILTER (WHERE event_type = 'view'
               AND value > 100) AS BIGINT) AS x2
           FROM events WHERE event_type IN ('click', 'view'))
         SELECT n1, x1, n2, x2,
                CAST(x1 AS DOUBLE) / n1 AS p1,
                CAST(x2 AS DOUBLE) / n2 AS p2,
                (CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2) /
                  sqrt((CAST(x1 + x2 AS DOUBLE) / (n1 + n2)) *
                       (1.0 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2)) *
                       (1.0 / n1 + 1.0 / n2)) AS z_stat
         FROM a""",
    "mk1_markov_transitions" ->
      """WITH b AS (
           SELECT event_type,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS next_type
           FROM events),
         bg AS (SELECT * FROM b WHERE next_type IS NOT NULL),
         f AS (SELECT event_type, count(*) AS n_from FROM bg GROUP BY 1)
         SELECT event_type, next_type, count(*) AS n_pair,
                CAST(n_from AS BIGINT) AS n_from,
                CAST(count(*) AS DOUBLE) / n_from AS p_next
         FROM bg JOIN f USING (event_type)
         GROUP BY event_type, next_type, n_from""",
    "rfm1_rfm_scores" ->
      """WITH per AS (
           SELECT user_id,
                  date_diff('day', CAST(max(ts) AS DATE),
                            DATE '2024-02-01') AS recency_days,
                  count(*) AS frequency,
                  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                    AS monetary
           FROM events WHERE event_type = 'purchase' GROUP BY user_id)
         SELECT user_id, CAST(recency_days AS INT) AS recency_days,
                frequency, monetary,
                CAST(ntile(4) OVER (ORDER BY recency_days ASC, user_id)
                  AS INT) AS r_score,
                CAST(ntile(4) OVER (ORDER BY frequency DESC, user_id)
                  AS INT) AS f_score,
                CAST(ntile(4) OVER (ORDER BY monetary DESC, user_id)
                  AS INT) AS m_score
         FROM per""",
    "chi1_chisq_independence" ->
      """WITH banded AS (
           SELECT event_type,
                  CASE WHEN value < 50 THEN 'low'
                       WHEN value < 200 THEN 'mid'
                       ELSE 'high' END AS band
           FROM events),
         cells AS (SELECT event_type, band, count(*) AS o
                   FROM banded GROUP BY 1, 2),
         rm AS (SELECT event_type, count(*) AS nr FROM banded GROUP BY 1),
         cm AS (SELECT band, count(*) AS nc FROM banded GROUP BY 1),
         t AS (SELECT count(*) AS n FROM banded),
         terms AS (
           SELECT CAST(round(
                    (CAST(o AS DOUBLE) - CAST(nr AS DOUBLE) * nc / n) *
                    (CAST(o AS DOUBLE) - CAST(nr AS DOUBLE) * nc / n) /
                    (CAST(nr AS DOUBLE) * nc / n), 9)
                  AS DECIMAL(18,9)) AS term
           FROM cells JOIN rm USING (event_type) JOIN cm USING (band), t)
         SELECT count(*) AS n_cells,
                CAST(SUM(term) AS DOUBLE) AS chi_sq
         FROM terms""")

  private lazy val dailyDriftOracle: String =
      """WITH clicks AS (
           SELECT CAST(ts AS DATE) AS day,
                  CAST(floor(value / 10) AS INT) AS bin
           FROM events WHERE event_type = 'click'),
         ref AS (
           SELECT bin, CAST(sum(rc) OVER (ORDER BY bin) AS DOUBLE) /
                  (SELECT count(*) FROM clicks) AS ref_cdf
           FROM (SELECT bin, count(*) AS rc FROM clicks GROUP BY bin)),
         daily AS (SELECT day, bin, count(*) AS dc FROM clicks GROUP BY 1, 2),
         daytot AS (SELECT day, count(*) AS dn FROM clicks GROUP BY 1),
         grid AS (
           SELECT t.day, t.dn, r.bin, r.ref_cdf,
                  sum(COALESCE(d.dc, 0)) OVER
                    (PARTITION BY t.day ORDER BY r.bin) AS dcum
           FROM daytot t CROSS JOIN ref r
           LEFT JOIN daily d ON d.day = t.day AND d.bin = r.bin)
         SELECT day, CAST(dn AS BIGINT) AS n_day,
                round(max(abs(CAST(dcum AS DOUBLE) / dn - ref_cdf)), 9)
                  AS drift
         FROM grid GROUP BY day, dn"""
}
