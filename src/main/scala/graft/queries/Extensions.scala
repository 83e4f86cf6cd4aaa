package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.similarity.{Quantize, Similarity}
import graft.streaming.EventStreams
import graft.text.{Bpe, TextFunctions}

/** Driver-contract queries for the training-data-pipeline extensions
  * (dedup / similarity / multimodal / text analysis / event windows).
  * SQL-expressible ops carry DuckDB oracles; hash-based ops (xxhash64
  * signatures, LSH buckets) are engine-specific and get the rows-only
  * check plus ScalaTest property coverage (DedupSpec/SimilaritySpec).
  */
object Extensions extends QueryModule {

  // ---- text analysis ------------------------------------------------

  def t1Tokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.bpeishTokenCount(col("text")).as("n_bpeish"))

  def t2Quality(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      TextFunctions.punctRatio(col("text")).as("punct_ratio"),
      TextFunctions.stopwordCount(col("text")).as("n_stopwords"),
      TextFunctions.meanTokenLen(col("text")).as("mean_token_len"))

  def t3LangId(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"), col("lang"),
      TextFunctions.langId(col("text")).as("predicted"))

  def t4Fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      TextFunctions.fingerprint(col("text")).as("fp"))

  def t5Redact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      TextFunctions.redactPii(col("text")).as("redacted"))

  def t6Repetition(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      TextFunctions.lineRepetitionRatio(col("text")).as("rep_ratio"))

  def t7Nfc(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      graft.functions.HashFunctions.normalize_unicode(col("text"), "NFC")
        .as("nfc"))

  /** Corpus-wide token frequencies, top 100 (explode -> count -> rank
    * with a deterministic total order): the classic vocabulary-stats
    * pass; partial aggregation absorbs the explode fan-out map-side.
    */
  def t8Wordcount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(100)

  /** TF-IDF top terms per document — the classic corpus-analytics
    * pass: token explode -> per-doc term counts -> document
    * frequencies -> idf-weighted scores -> top-3 per doc
    * (WindowGroupLimit keeps only k rows per partition pre-shuffle).
    * Both engines rank by the ROUNDED score with a token tiebreak so
    * the ordering is engine-independent.
    */
  def t9Tfidf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"),
      explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
    val tf = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    // document frequency from the tf aggregate itself (one row per
    // (doc, token) by construction) — no second explode pass over the
    // corpus, no distinct
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // corpus size as a LAZY broadcast scalar (1-row cross join), not a
    // driver-side count(): constructing the query stays a pure plan —
    // no job fires until the caller executes it
    val nDocs = broadcast(docs.agg(count(lit(1)).as("n_docs")))
    val scored = tf.join(dfreq, "token")
      .crossJoin(nDocs)
      .withColumn("tfidf",
        round(col("tf") *
          log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("token"))
    scored
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("token"), col("tf"), col("tfidf"))
  }

  /** Corpus-trained unigram log-probability quality score — the
    * classic "perplexity-ish" filter: score each doc by the mean
    * negative log-probability of its tokens under the corpus's own
    * unigram distribution (low = typical text, high = gibberish /
    * vocabulary outliers). Two passes: token frequencies (vocabulary
    * is ~bounded, broadcasts into the scoring join), then per-doc
    * mean. Cross-engine exactness: per-token logs are rounded to 6
    * decimals BEFORE summing (ln agrees to <=1 ulp; the t9/smp3
    * precedent) and summed as DECIMAL so the distributed combine
    * order cannot change the result (the Ops.dsum rule).
    */
  /** Data-recipe mix report: document and token counts per
    * (language, length bucket, punctuation-quality bucket) — the
    * accounting table a training-data recipe is written against
    * ("how many tokens of clean English in the 64-96-token band?").
    * Buckets are pure integer arithmetic (width-32 token bands,
    * floor(punct_ratio*10)) — no log2 at bucket boundaries — so the
    * dual is exact. One scan, partial-aggregated rollup; the output
    * cardinality (langs x buckets) is tiny at any corpus scale.
    */
  def t11MixReport(s: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(s, d).select(col("lang"),
      TextFunctions.tokenCount(col("text")).as("nt"),
      TextFunctions.punctRatio(col("text")).as("pr"))
    t.groupBy(col("lang"),
        (expr("nt div 32") * 32).cast("int").as("len_bucket"),
        floor(col("pr") * 10).cast("int").as("punct_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).cast("long").as("total_tokens"))
  }

  def t10UnigramLogprob(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"),
      explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
    val freq = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val nTotal = broadcast(toks.agg(count(lit(1)).as("n_total")))
    toks.join(broadcast(freq), "token")
      .crossJoin(nTotal)
      .withColumn("__lp",
        round(-log(col("cnt").cast("double") / col("n_total")), 6)
          .cast("decimal(18,6)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        // cast the EXACT decimal sum to double, THEN divide: decimal
        // division scale/rounding rules differ across engines, but
        // identical decimal -> identical double -> identical quotient
        (sum(col("__lp")).cast("double") / count(lit(1)))
          .as("mean_neg_logp"))
  }

  // ---- dedup --------------------------------------------------------

  def dd1Exact(s: SparkSession, d: String): DataFrame =
    Dedup.exact(Tables.documents(s, d), "doc_id", "text")

  def dd2MinhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.minhashPairs(Tables.documents(s, d), "doc_id", "text",
      threshold = 0.2)

  def dd3SimhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text",
      maxHamming = 3)

  def dd4NgramPairs(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
      threshold = 0.5, candidateThreshold = 0.15)

  // synthetic embeddings are near-orthogonal (max pairwise cos ~0.51),
  // so the "near-dup" threshold is 0.4 here; production default is
  // 0.95. tables=24 is set by DedupSpec's measured recall gate:
  // nearly every true pair here sits AT the 0.4 boundary (the corpus
  // tops out at cos ~0.51), where per-table collision is only
  // (1 - acos(0.4)/pi)^4 ~ 0.16 — 8 tables measured 0.81 recall, 16
  // measured 0.88, 24 puts the expected boundary recall at ~0.98.
  def dd5EmbeddingNearDup(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingNearDupPairs(Tables.embeddings(s, d), "vec_id",
      "embedding", threshold = 0.4, bits = 4, tables = 24)

  /** dd18: single-suite decontamination against THREE eval sets at
    * once ([[Dedup.multiSetContaminationScores]]): the three pmod
    * slices stand in for three benchmarks; the whole suite costs two
    * corpus gram passes instead of one full pass per benchmark —
    * the shape a 100 TB pipeline actually runs (decontaminate against
    * every eval set you ship, in one job). Sparse output: one row
    * per (doc, set) with hits.
    */
  def dd18MultisetContamination(s: SparkSession, d: String): DataFrame =
    dd18MultisetContaminationOn(Tables.documents(s, d))

  private[graft] def dd18MultisetContaminationOn(docs: DataFrame)
      : DataFrame = {
    val evalSets = Seq(89, 97, 101).map { m =>
      docs.filter(pmod(col("doc_id"), lit(m)) === 0)
        .select(lit(s"mod$m").as("eval_set"), col("text"))
    }.reduce(_.unionAll(_))
    val corpus = docs.filter(pmod(col("doc_id"), lit(89)) =!= 0 &&
      pmod(col("doc_id"), lit(97)) =!= 0 &&
      pmod(col("doc_id"), lit(101)) =!= 0)
    Dedup.multiSetContaminationScores(corpus, evalSets,
      "doc_id", "eval_set", "text", k = 3)
  }

  /** Driver-visible containment check for the seeded-sketch dd4
    * family: dd4's verify phase is EXACT n-gram Jaccard, so every
    * emitted pair must lie inside the exact all-pairs truth set
    * (which the prefix-filter kernel computes with guaranteed recall,
    * and which DuckDB reproduces independently). Emits ONE row:
    * n_violations (emitted pairs OUTSIDE the truth set — 0 unless the
    * verify predicate is broken) and n_truth (the exact pair count at
    * the same threshold, cross-engine checkable). This moves the
    * sketch family's correctness claim from ScalaTest-only into the
    * driver's two-engine gate; the seeded RECALL number stays in
    * DedupSpec (no second engine can reproduce xxhash64 banding).
    */
  def dd16NgramContainment(s: SparkSession, d: String): DataFrame = {
    // t = 0.8, the prefix-filter kernel's benched regime (dd7): the
    // containment property is threshold-independent, and at 0.8 the
    // truth side's prefix is 0.2|set| (at dd4's 0.5 it would be
    // 0.5|set| — a ~6x candidate blow-up for zero extra check power)
    val docs = Tables.documents(s, d)
    val emitted = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      threshold = 0.8, candidateThreshold = 0.2)
    val truth = TruthSets.exactJaccardPairs(s, d, threshold = 0.8)
    val violations = emitted.select(col("id_a"), col("id_b"))
      .join(truth.select(col("id_a"), col("id_b")),
        Seq("id_a", "id_b"), "left_anti")
    violations.agg(count(lit(1)).as("n_violations"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .select(col("n_violations"), col("n_truth"))
  }

  /** dd5's twin of [[dd16NgramContainment]]: the hyperplane-LSH
    * family's verify phase is EXACT cosine, so emitted pairs must lie
    * inside the exact all-pairs cosine truth set. The truth side is
    * quadratic BY DESIGN (that is what makes it a verification query,
    * not a production operator — dd5 itself is the scale path); the
    * embeddings table broadcasts and the pair loop runs map-side.
    * Truth membership thresholds on round(cos, 6) — ann5's discipline
    * — which is a superset of dd5's raw-threshold emission (x >= t
    * implies round6(x) >= t for a 6dp-representable t), so
    * containment is preserved while the cross-engine count compares
    * rounded values.
    */
  def dd17EmbeddingContainment(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val emitted = Dedup.embeddingNearDupPairs(emb, "vec_id",
      "embedding", threshold = 0.4, bits = 4, tables = 24)
    val truth = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      .join(broadcast(
        emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))),
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.cosine(col("va"), col("vb")), 6).as("cos6"))
      .filter(col("cos6") >= 0.4)
    val violations = emitted.select(col("id_a"), col("id_b"))
      .join(truth.select(col("id_a"), col("id_b")),
        Seq("id_a", "id_b"), "left_anti")
    violations.agg(count(lit(1)).as("n_violations"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .select(col("n_violations"), col("n_truth"))
  }

  /** dd3's twin of [[dd16NgramContainment]], closing the last
    * sketch family without a driver-visible audit: every
    * SimHash-emitted pair whose EXACT trigram Jaccard clears the dd7
    * operating point (0.8) must lie inside the exact all-pairs truth
    * set — the prefix-filter kernel guarantees recall, so a non-zero
    * violation count means one of the two exact kernels (merge-scan
    * scorer or prefix join) is broken. The Jaccard re-score uses the
    * SAME sorted-hash merge-scan kernel dd4's verify runs
    * ([[Dedup.exactJaccardScores]]); truth comes from the shared
    * [[TruthSets]] materialization. n_truth is the cross-engine leg
    * (DuckDB brute-forces the identical count); the seeded
    * Hamming-recall number stays in DedupSpec (no second engine can
    * replay xxhash64 simhash bits).
    */
  def dd19SimhashContainment(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val emitted = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
    val strong = Dedup.exactJaccardScores(docs, "doc_id", "text", emitted)
      .filter(col("jaccard") >= 0.8)
    val truth = TruthSets.exactJaccardPairs(s, d, threshold = 0.8)
    val violations = strong.select(col("id_a"), col("id_b"))
      .join(truth.select(col("id_a"), col("id_b")),
        Seq("id_a", "id_b"), "left_anti")
    violations.agg(count(lit(1)).as("n_violations"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .select(col("n_violations"), col("n_truth"))
  }

  /** dd10's twin, closing the LAST dedup-family member without a
    * driver-visible audit: every fuzzy-decontamination hit
    * ([[Dedup.minhashJoin]], corpus x eval at est-J >= 0.5) whose
    * EXACT trigram Jaccard clears 0.8 must lie inside the exact
    * CROSS-pair truth set — the all-pairs truth ([[TruthSets]],
    * guaranteed recall) restricted to pairs straddling dd10's mod-5
    * corpus/eval split. The re-score uses the same merge-scan kernel
    * as dd19's ([[Dedup.exactJaccardScores]]); n_truth is the
    * cross-engine leg (DuckDB brute-forces the identical cross-pair
    * count); the seeded minhash RECALL number stays in DedupSpec.
    */
  def dd22FuzzyContainment(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val emitted = Dedup.minhashJoin(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        "doc_id", "text", threshold = 0.5)
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"))
    val strong = Dedup.exactJaccardScores(docs, "doc_id", "text", emitted)
      .filter(col("jaccard") >= 0.8)
    val isEval = (c: org.apache.spark.sql.Column) => pmod(c, lit(5)) === 0
    val truth = TruthSets.exactJaccardPairs(s, d, threshold = 0.8)
      .filter(isEval(col("id_a")) =!= isEval(col("id_b")))
    val violations = strong.select(col("id_a"), col("id_b"))
      .join(truth.select(col("id_a"), col("id_b")),
        Seq("id_a", "id_b"), "left_anti")
    violations.agg(count(lit(1)).as("n_violations"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .select(col("n_violations"), col("n_truth"))
  }

  // ---- similarity search -------------------------------------------

  private def queryVec(s: SparkSession, d: String): Seq[Float] =
    Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)

  def ann1BruteForce(s: SparkSession, d: String): DataFrame = {
    val topk = Similarity.bruteForceTopK(
      Tables.embeddings(s, d).filter(col("vec_id") =!= 0),
      "vec_id", "embedding", queryVec(s, d), k = 10)
    import org.apache.spark.sql.expressions.Window
    topk.withColumn("rank",
        row_number().over(Window.orderBy(col("sim").desc, col("vec_id"))))
      .select(col("rank"), col("vec_id"), round(col("sim"), 4).as("sim4"))
  }

  /** vec_id 0 as the one-row query frame (qid, qvec) of ann2/ann3/ann6;
    * their corpus is every other vector.
    */
  private def queryFrame(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  def ann3Ivf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
    val (indexed, centroids) =
      Similarity.buildIvfIndex(emb, "vec_id", "embedding", nLists = 16)
    Similarity.ivfTopK(queryFrame(s, d), indexed, centroids, "qid", "qvec",
      "vec_id", "embedding", k = 10, nprobe = 4)
      .select(col("vec_id"), col("sim"))
  }

  def ann2Lsh(s: SparkSession, d: String): DataFrame =
    Similarity.lshTopK(queryFrame(s, d),
      Tables.embeddings(s, d).filter(col("vec_id") =!= 0),
      "qid", "qvec", "vec_id", "embedding", k = 10, bits = 4, tables = 8)
      .select(col("vec_id"), col("sim"))

  /** Product-quantized ANN ([[Similarity.trainPqCodebooks]]/
    * [[Similarity.pqEncode]]/[[Similarity.pqTopK]]): the
    * memory-compression scale path — 8 codes replace the 64-dim
    * vector (32x smaller query-time scan), asymmetric-distance
    * scoring via a broadcast lookup table, exact cosine re-rank on
    * the top-100 candidates only. No DuckDB dual (k-means codes);
    * DedupSpec gates recall and proves rerank=corpus == exact.
    */
  def ann6Pq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
    val books = Similarity.trainPqCodebooks(
      emb, "vec_id", "embedding", dim = 64, m = 8, ksub = 32)
    val encoded = Similarity.pqEncode(emb, "vec_id", "embedding", books)
    Similarity.pqTopK(queryFrame(s, d), encoded, emb, books, "qid", "qvec",
      "vec_id", "embedding", k = 10, rerank = 100)
      .select(col("vec_id"), col("sim"))
  }

  /** Driver-visible recall audit for the seeded ANN family (r10
    * verdict ask #3 — the dd16 pattern applied to ann2/ann3/ann6):
    * exact cosine top-10 per query vector is the TRUTH (cross-engine
    * computable: the qid-pooled row count and vec_id checksum replay
    * in DuckDB with the fold-cosine dual, tie-broken by raw double
    * cosine then vec_id — bit-identical IEEE folds per dd17), and
    * each approximate method's pooled hit count must clear its
    * DedupSpec-gated floor. The seeded index internals (hyperplane
    * buckets, k-means lists, PQ codes) stay OUT of the hashed output
    * — only the floors (literals) and the boolean verdicts surface,
    * so the row is green iff measured recall holds at driver time.
    *
    * Floors are the DedupSpec per-query gates pooled over 4 queries:
    * lsh >= 5/10 -> 20/40, ivf(nprobe=8) >= 4/10 -> 16/40,
    * pq >= 8/10 -> 32/40. The LSH/IVF legs hold a fixed FRACTION of
    * the corpus by construction (bucket count and nprobe/nLists are
    * ratios); PQ's rerank is an absolute budget, so the audit pins it
    * to corpus/6 (its sf0.01 ratio, min 100) — measured recall at a
    * fixed rerank=100 decays with corpus growth (35/40 at sf0.01 ->
    * exactly 32/40 at sf0.1), which would gate budget starvation,
    * not codebook quality.
    */
  def ann7RecallAudit(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val qids = Seq(0L, 1L, 2L, 3L)
    val corpus = emb.filter(!col("vec_id").isin(qids: _*))
    val qdf = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    // exact truth, ONE corpus pass for all queries (batchTopK ==
    // per-query brute force, DedupSpec); checkpointed — two consumers
    // (the hit join + the truth aggregate) would each recompute the
    // corpus scan otherwise
    val truth = Similarity.batchTopK(qdf, corpus, "qid", "qvec",
        "vec_id", "embedding", k = 10)
      .select(col("qid"), col("vec_id"))
      .localCheckpoint(true)
    // shared index builds (one per method, probed by every query in
    // one pass — exactly how a serving deployment amortizes them)
    val (indexed, centroids) =
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding", nLists = 16)
    val books = Similarity.trainPqCodebooks(
      corpus, "vec_id", "embedding", dim = 64, m = 8, ksub = 32)
    val encoded = Similarity.pqEncode(corpus, "vec_id", "embedding", books)
    val rerank = math.max(100L, corpus.count() / 6).toInt
    def tagged(method: String, df: DataFrame): DataFrame =
      df.select(lit(method).as("method"), col("qid"), col("vec_id"))
    val approx = Seq(
      tagged("lsh", Similarity.lshTopK(qdf, corpus, "qid", "qvec",
        "vec_id", "embedding", k = 10, bits = 4, tables = 8)),
      tagged("ivf", Similarity.ivfTopK(qdf, indexed, centroids, "qid",
        "qvec", "vec_id", "embedding", k = 10, nprobe = 8)),
      tagged("pq", Similarity.pqTopK(qdf, encoded, corpus, books, "qid",
        "qvec", "vec_id", "embedding", k = 10, rerank = rerank))
    ).reduce(_.unionAll(_))
    val hits = approx.join(truth, Seq("qid", "vec_id"), "left_semi")
      .groupBy(col("method")).agg(count(lit(1)).as("n_hit"))
    val truthAgg = truth.agg(count(lit(1)).as("n_truth"),
      sum(col("vec_id")).as("truth_id_sum"))
    val floors = s.createDataFrame(Seq(
      ("ivf", 16L), ("lsh", 20L), ("pq", 32L)))
      .toDF("method", "min_hits")
    floors.join(hits, Seq("method"), "left_outer")
      .crossJoin(broadcast(truthAgg))
      .select(col("method"), col("n_truth"), col("truth_id_sum"),
        col("min_hits"),
        (coalesce(col("n_hit"), lit(0L)) >= col("min_hits"))
          .as("recall_ok"))
      .orderBy(col("method"))
  }

  /** Int8 scalar quantization of the embedding column: per-vector
    * symmetric scale (max|x|/127) + integer codes — the storage
    * compression that cuts an embedding store 4x before any ANN
    * structure is built (and composes with PQ/IVF). All columnar
    * higher-order functions, one scan, no shuffle. Rounding is
    * floor(x/scale + 0.5) — floor is unambiguous cross-engine,
    * where round()'s half-tie direction is not — so the dual is
    * exact including the zero-vector guard.
    */
  def vq1QuantInt8(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"),
        (array_max(transform(col("v"), x => abs(x))) / lit(127.0))
          .as("scale"), col("v"))
      .select(col("vec_id"), col("scale"),
        // "serialize at the edge": arrays leave as JSON text so the
        // driver's value canonicalizer never sees a raw array column
        to_json(when(col("scale") === 0, transform(col("v"), _ => lit(0)))
          .otherwise(transform(col("v"),
            x => floor(x / col("scale") + lit(0.5)).cast("int"))))
          .as("qvec"))
  }

  /** Sign-bit (1-bit) quantization: pack each 64-dim embedding's sign
    * bits into two 32-bit words ([[Quantize.signPack]]) — 256 B -> 8 B,
    * the Hamming-space index build. One projection, no shuffle; the
    * dual reproduces the packing with unnest + bit_or.
    */
  def vq2SignPack(s: SparkSession, d: String): DataFrame =
    Quantize.signPack(Tables.embeddings(s, d), "vec_id", "embedding")

  /** Hamming top-k over the packed sign bits: two codegen'd popcounts
    * per row over an 8-byte code instead of 64 multiply-adds over
    * 256 B — the cheapest ANN tier ([[Quantize.hammingTopK]]). Plan:
    * scan -> project -> TakeOrderedAndProject, no shuffle. The query
    * code is derived on the driver from vec_id 0's float vector
    * (identical packing rule), corpus excludes the query row.
    */
  def hm1HammingTopK(s: SparkSession, d: String): DataFrame = {
    val q = queryVec(s, d)
    val qWords = (0 until 2).map { j =>
      (0 until 32).foldLeft(0L) { (acc, i) =>
        if (q(j * 32 + i) > 0) acc | (1L << i) else acc
      }
    }
    val packed = Quantize.signPack(
      Tables.embeddings(s, d).filter(col("vec_id") =!= 0),
      "vec_id", "embedding")
    Quantize.hammingTopK(packed, "vec_id", qWords, k = 10)
  }

  /** Hamming RADIUS search over the packed sign bits: every corpus
    * vector within Hamming distance <= 26 of the query (the ~5th
    * percentile of the corpus's distance distribution — min 19,
    * median 32 — so the bar selects a real near set) — the
    * fixed-quality-bar dual of [[hm1HammingTopK]] (as ann5 is to
    * ann1). One scan, two popcounts, the filter sits on the scan
    * output; no ordering, no shuffle at all.
    */
  def hm2HammingRadius(s: SparkSession, d: String): DataFrame = {
    val q = queryVec(s, d)
    val qWords = (0 until 2).map { j =>
      (0 until 32).foldLeft(0L) { (acc, i) =>
        if (q(j * 32 + i) > 0) acc | (1L << i) else acc
      }
    }
    val packed = Quantize.signPack(
      Tables.embeddings(s, d).filter(col("vec_id") =!= 0),
      "vec_id", "embedding")
    val ham = qWords.zipWithIndex.map { case (qw, j) =>
      bit_count(col(s"w$j").bitwiseXOR(lit(qw)))
    }.reduce(_ + _)
    packed.select(col("vec_id"), ham.cast("int").as("hamming"))
      .filter(col("hamming") <= 26)
  }

  /** EXACT-proportion stratified split: within each stratum (lang),
    * rank docs by the md5 bucket order (ties by doc_id) and cut at
    * 80% / 90% of the stratum size — every stratum gets exactly
    * floor-proportional train/val/test counts, where [[spl1HashSplit]]
    * only delivers the proportions in expectation (a small stratum can
    * land 70/20/10 by luck). The cost of exactness is one rank window
    * per stratum — a shuffle by lang — vs spl1's pure projection;
    * both are deterministic and engine-portable.
    */
  def spl2StratifiedSplit(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
      16, 10).cast("bigint") % 100
    val w = Window.partitionBy(col("lang"))
    val ranked = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"))
      .withColumn("rk", row_number().over(
        w.orderBy(col("bucket"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(w))
    ranked.select(col("doc_id"), col("lang"),
      when(col("rk") * 10 <= col("n") * 8, lit("train"))
        .when(col("rk") * 10 <= col("n") * 9, lit("val"))
        .otherwise(lit("test")).as("split"))
  }

  /** Shared build for the quantized k-means family: global-scale int8
    * codes + the k lowest-id vectors' codes as deterministic initial
    * centroids ([[Quantize.globalInt8]]).
    */
  private[queries] def quantizedWithInit(s: SparkSession, d: String, k: Int)
      : (DataFrame, Seq[(Int, Seq[Int])]) =
    quantizedWithInitOn(Tables.embeddings(s, d), k)

  private[graft] def quantizedWithInitOn(emb: DataFrame, k: Int)
      : (DataFrame, Seq[(Int, Seq[Int])]) = {
    val (q, _) = Quantize.globalInt8(emb, "vec_id", "embedding")
    val init = q.filter(col("vec_id") < k)
      .orderBy(col("vec_id"))
      .collect()
      .map(r => r.getLong(0).toInt -> r.getSeq[Int](1).toSeq)
      .toSeq
    (q, init)
  }

  /** Nearest-centroid assignment in the quantized integer domain
    * ([[Quantize.assignQ]], k=8 centroids = the codes of vec_id 0..7):
    * exact integer L2^2, centroids baked as plan literals — one corpus
    * scan, zero shuffle, the IVF coarse-assignment shape made
    * bit-reproducible. The dual replays the identical integer math via
    * list_inner_product (all values far inside exact-double range).
    */
  def km1AssignQ(s: SparkSession, d: String): DataFrame = {
    val (q, init) = quantizedWithInit(s, d, k = 8)
    Quantize.assignQ(q, "vec_id", init)
      .select(col("vec_id"), col("cluster"), col("dist2"))
  }

  /** Three Lloyd iterations of integer-domain k-means
    * ([[Quantize.lloydQ]]): per iteration one corpus scan + a
    * (cluster, pos) partial-sum aggregate; the k*dim updated centroids
    * are collected and re-broadcast as literals, so the corpus itself
    * never shuffles. floor(sum/count) keeps the update exact in both
    * engines; the dual unrolls the same three iterations as chained
    * CTEs. Deterministic end-to-end — retrying any partition yields
    * the same clusters, which float k-means cannot promise.
    */
  def km2LloydQ(s: SparkSession, d: String): DataFrame = {
    val (q, init) = quantizedWithInit(s, d, k = 8)
    val (assigned, _) = Quantize.lloydQ(q, "vec_id", init, iters = 3)
    assigned.select(col("vec_id"), col("cluster"), col("dist2"))
  }

  /** SemDeDup on quantized codes ([[Quantize.semDedupKeepQ]]): cluster
    * with km1's assignment, then within each cluster drop any vector
    * with a lower-id mate at cosine >= 0.4 (the corpus tops out at ~0.51, per dd5 — 0.4 is the operative near-dup bar here). The threshold test is
    * all-integer (dot > 0 and den^2*dot^2 >= num^2*|a|^2*|b|^2), so
    * keep/drop is exact; clustering bounds candidates to O(sum n_c^2)
    * and the only shuffle is by cluster id — the semantic-dedup scale
    * shape. The dual replays the integer test in HUGEINT.
    */
  def sem1SemdedupQ(s: SparkSession, d: String): DataFrame = {
    // fan-out before quantization: unlike km2/clb1 (whose fan-outs
    // were A/B'd and reverted — the added exchange cost more than the
    // parallelism on the 2k-row embeddings), sem1's cluster-bounded
    // self-join measurably profits from the spread assignment input
    // (steady 1.42 -> 0.79 s, round-14 A/B)
    val (q, init) = quantizedWithInitOn(graft.ops.Ops.fanOutForCompute(
      Tables.embeddings(s, d), col("vec_id")), k = 8)
    Quantize.semDedupKeepQ(
      Quantize.assignQ(q, "vec_id", init), "vec_id",
      tauNum = 40L, tauDen = 100L)
  }

  /** Deterministic hash-based train/val/test split: bucket =
    * md5(doc_id) first 16 bits mod 100, 80/10/10. The assignment is a
    * pure projection (no shuffle, no RNG state) and — the property
    * that matters on a 100 TB corpus — STABLE: any engine, any
    * partitioning, any retry assigns every document to the same split,
    * and adding documents never moves existing ones. md5 because both
    * engines define it identically over utf8; conv/CAST parse the
    * same 4 hex chars.
    */
  def spl1HashSplit(s: SparkSession, d: String): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
      16, 10).cast("bigint") % 100
    Tables.documents(s, d).select(
      col("doc_id"), bucket.as("bucket"),
      when(bucket < 80, lit("train"))
        .when(bucket < 90, lit("val"))
        .otherwise(lit("test")).as("split"))
  }

  /** Bigram conditional language-model stats over whitespace tokens:
    * pairs are built WITHIN each row (zip_with over two slices of the
    * token array — no window, no per-token shuffle), then one
    * groupBy(w1, w2) + a broadcast join to the w1 marginals.
    * neg_logp = -ln(P(w2|w1)) rounded to 6 dp (the t10 decimal
    * pattern, since ln's last ulp is engine-specific). min_count
    * bounds the output like any n-gram LM cutoff.
    */
  def t12BigramCond(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d).select(col("doc_id"),
      split(lower(trim(col("text"))), "\\s+").as("t"))
    val pairs = toks
      .select(explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1"), col("p.w2"))
    val pairCnt = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_pair"))
    val w1Cnt = pairs.groupBy(col("w1")).agg(count(lit(1)).as("n_w1"))
    pairCnt.join(broadcast(w1Cnt), "w1")
      .filter(col("n_pair") >= 3)
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"),
        // round-via-decimal for exact tie behavior; DOUBLE at the edge
        round(-log(col("n_pair").cast("double") / col("n_w1")), 6)
          .cast("decimal(18,6)").cast("double").as("neg_logp"))
  }

  /** Doc-level bigram-LM quality score (the CCNet-style perplexity
    * filter, one level up from t10's unigram): mean negative log of
    * add-one-smoothed conditional bigram probabilities under the
    * corpus's own LM. High score = improbable word sequences
    * (gibberish, shuffled text) even when every unigram is common —
    * the failure mode t10 cannot see. Per-bigram logs are rounded then
    * DECIMAL-summed (combine-order-proof, the t10 rule). The LM join
    * is on (w1,w2): bounded by observed-bigram vocabulary, broadcast
    * here; at corpus scale it shuffles on the pair key while the doc
    * stream is already pair-keyed from the same expression — AQE keeps
    * it local.
    */
  def t14BigramLogprob(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d).select(col("doc_id"),
      split(lower(trim(col("text"))), "\\s+").as("t"))
    val pairs = toks
      .select(col("doc_id"), explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))
    val pairCnt = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_pair"))
    val w1Cnt = pairs.groupBy(col("w1")).agg(count(lit(1)).as("n_w1"))
    val vocab = broadcast(toks
      .select(explode(col("t")).as("token"))
      .agg(count_distinct(col("token")).as("v")))
    pairs
      .join(broadcast(pairCnt), Seq("w1", "w2"))
      .join(broadcast(w1Cnt), Seq("w1"))
      .crossJoin(vocab)
      .withColumn("__lp",
        round(-log((col("n_pair") + 1).cast("double") /
          (col("n_w1") + col("v"))), 6).cast("decimal(18,6)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("__lp")).cast("double") / count(lit(1)))
          .as("mean_neg_logp2"))
  }

  /** Gopher-style top-n-gram repetition metric (Rae et al. 2021,
    * "Scaling Language Models", Table A1): for each document and each
    * n in 2..4, the word n-gram with the highest count and the
    * fraction of the document's character mass it accounts for
    * (count x gram chars / joined-token-stream chars). High fractions
    * flag boilerplate/templated docs that slip past t6's line-level
    * check because the repetition lives WITHIN lines. Everything is
    * an integer rational until the final 6dp rounding, and the argmax
    * tie-break is the (count, gram) struct max — deterministic and
    * engine-portable (binary string order both sides). Scale shape:
    * grams are built array-side per row (no self-join), the count is
    * one partial-aggregable groupBy keyed (doc_id, n, gram) — the
    * explode fan-out combines map-side — and the per-(doc, n) argmax
    * is a second partial aggregate; nothing ranks globally.
    */
  def t16TopNgramFrac(s: SparkSession, d: String): DataFrame = {
    // ZERO-SHUFFLE shape: every gram of a document lives in that
    // document's own row, so the per-(doc, n) argmax never needs a
    // groupBy — sort the gram array and fold it for the longest
    // equal-run. The explode+groupBy alternative shuffles ~3x the
    // corpus token mass for an answer that was map-side computable;
    // at 100 TB that shuffle IS the job. The fold runs interpreted
    // (higher-order functions are CodegenFallback) but touches only
    // the row-local array — narrow beats codegen-over-a-shuffle here.
    // Ascending sort makes the tie-break free: on equal run length
    // the LATER (binary-larger) gram overwrites, which is exactly the
    // (count, gram) struct-max order the DuckDB dual ranks by.
    val toks = Tables.documents(s, d).select(col("doc_id"),
      split(lower(trim(col("text"))), "\\s+").as("ts"))
    val base = toks
      .select(col("doc_id"),
        length(concat_ws(" ", col("ts"))).cast("long").as("tot_chars"),
        col("ts"), explode(array(lit(2), lit(3), lit(4))).as("n"))
      .filter(size(col("ts")) >= col("n"))
    val grams = array_sort(transform(
      sequence(lit(0), size(col("ts")) - col("n")),
      i => concat_ws(" ", slice(col("ts"), i + 1, col("n")))))
    val zero = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("cnt"), lit("").as("gram"))
    val folded = aggregate(grams, zero, (acc, g) => {
      val run = when(g === acc.getField("prev"),
        acc.getField("run") + 1L).otherwise(lit(1L))
      val take = run >= acc.getField("cnt")
      struct(g.as("prev"), run.as("run"),
        when(take, run).otherwise(acc.getField("cnt")).as("cnt"),
        when(take, g).otherwise(acc.getField("gram")).as("gram"))
    })
    base
      .select(col("doc_id"), col("n"), col("tot_chars"),
        folded.as("m"))
      .select(col("doc_id"), col("n"),
        col("m.gram").as("top_gram"), col("m.cnt").as("cnt"),
        round(col("m.cnt") * length(col("m.gram")) /
          col("tot_chars"), 6).as("frac6"))
  }

  /** Gopher's duplicate-n-gram repetition family (Rae et al. 2021,
    * Table A1), the long-gram complement of [[t16TopNgramFrac]]: for
    * each document and n in 5..10, how much of the character mass
    * sits in word n-grams that occur MORE THAN ONCE in the document.
    * Long duplicated grams are the signature of boilerplate blocks
    * (headers, nav bars, license stubs) pasted repeatedly into one
    * page. As in t16, the fraction is occurrence-weighted
    * (sum of count x gram chars over duplicated grams / joined-token
    * chars), not an overlap-deduplicated coverage measure — integer
    * rationals end-to-end, one 6dp rounding at the edge. A doc with
    * >= n tokens but no duplicated n-gram still emits its (doc, n)
    * row with frac 0, so the output domain is data-independent given
    * doc lengths. Same scale shape as t16: array-side gram build, two
    * partial-aggregable groupBys, nothing global.
    */
  def t17DupNgramFrac(s: SparkSession, d: String): DataFrame = {
    // Same zero-shuffle run-fold shape as [[t16TopNgramFrac]], with a
    // finish step that flushes the trailing run: scan the sorted gram
    // array, and each time a run of length >= 2 CLOSES, add one
    // duplicated gram and run x chars(gram) to the accumulators.
    val toks = Tables.documents(s, d).select(col("doc_id"),
      split(lower(trim(col("text"))), "\\s+").as("ts"))
    val base = toks
      .select(col("doc_id"),
        length(concat_ws(" ", col("ts"))).cast("long").as("tot_chars"),
        col("ts"),
        explode(array((5 to 10).map(lit(_)): _*)).as("n"))
      .filter(size(col("ts")) >= col("n"))
    val grams = array_sort(transform(
      sequence(lit(0), size(col("ts")) - col("n")),
      i => concat_ws(" ", slice(col("ts"), i + 1, col("n")))))
    val zero = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("dg"), lit(0L).as("dc"))
    val folded = aggregate(grams, zero,
      (acc, g) => {
        val closes = (g =!= acc.getField("prev")) &&
          (acc.getField("run") >= 2L)
        struct(g.as("prev"),
          when(g === acc.getField("prev"), acc.getField("run") + 1L)
            .otherwise(lit(1L)).as("run"),
          when(closes, acc.getField("dg") + 1L)
            .otherwise(acc.getField("dg")).as("dg"),
          when(closes, acc.getField("dc") +
              acc.getField("run") * length(acc.getField("prev")))
            .otherwise(acc.getField("dc")).as("dc"))
      },
      acc => {
        val closes = acc.getField("run") >= 2L
        struct(
          when(closes, acc.getField("dg") + 1L)
            .otherwise(acc.getField("dg")).as("dg"),
          when(closes, acc.getField("dc") +
              acc.getField("run") * length(acc.getField("prev")))
            .otherwise(acc.getField("dc")).as("dc"))
      })
    base
      .select(col("doc_id"), col("n"), col("tot_chars"),
        folded.as("m"))
      .select(col("doc_id"), col("n"),
        col("m.dg").as("dup_grams"),
        round(col("m.dc") / col("tot_chars"), 6).as("frac6"))
  }

  /** Token-budget curation: per source, keep documents in priority
    * order (longest first, doc_id tiebreak) until the source's
    * cumulative token count reaches the budget — "sample N tokens per
    * source", the mixture-building step after t11 reports the mix.
    * One window per source partition; no global sort, no collect. The
    * budget cut is a running-sum filter, so adding sources scales
    * linearly and each source prunes independently.
    */
  def mix2BudgetSample(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= 4000)
      .drop("n_chars")
  }

  /** Johnson-Lindenstrauss random projection 64 -> 16 dims with a
    * deterministic +-1 sign matrix derived from a portable arithmetic
    * hash ((i*73 + j*149) %% 13 < 6 — slight 6/13 bias, irrelevant for
    * the plumbing and cross-engine identical; production would
    * broadcast a seeded Gaussian matrix). Pure projection: no shuffle,
    * no state — the 100 TB shape is "map over vectors". The fold is a
    * sequential `aggregate` so the float-sum order is pinned and the
    * DuckDB `list_reduce` dual reproduces the exact double.
    */
  def rp1RandomProjection(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        explode(sequence(lit(0L), lit(15L))).as("j"),
        col("embedding"))
      .select(col("vec_id"), col("j"),
        round(aggregate(sequence(lit(0L), lit(63L)), lit(0.0),
          (acc, i) => acc +
            element_at(col("embedding"), (i + 1).cast("int")).cast("double") *
              when((i * 73 + col("j") * 149) % 13 < 6, lit(1.0))
                .otherwise(lit(-1.0))), 6).as("proj"))

  /** PageRank over the customer -> supplier trade graph (8 damped
    * iterations, dangling redistribution) — [[graft.graph.PageRank]].
    * The dual unrolls the same iterations as CTEs with the same
    * decimal-rounding discipline, so ranks match to the last bit.
    */
  def g2Pagerank(s: SparkSession, d: String): DataFrame = {
    val edges = Tables.orders(s, d)
      .join(Tables.lineitem(s, d),
        col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
    graft.graph.PageRank.run(edges, iters = 8, damping = 0.85)
  }

  /** Content-defined chunking ([[graft.export.Packing
    * .cdcChunkDocuments]]): boundaries wherever a token's portable
    * hash is 0 mod 16 — edit-stable chunks (the dedup-friendly
    * chunker), all within-row, no shuffle. The dual recomputes the
    * same hash (t4's polynomial) and derives chunk ids by exclusive
    * prefix-count of boundary flags — same numbering, same slices.
    */
  def cdc1ContentChunks(s: SparkSession, d: String): DataFrame =
    // fan-out at the CALL SITE (the chunker itself stays map-only —
    // its no-shuffle contract is the operator's scale shape): the
    // per-token hash + slice work otherwise runs single-core over the
    // one-row-group bench scan (guide §2; no-op at warehouse scale)
    graft.export.Packing.cdcChunkDocuments(
      graft.ops.Ops.fanOutForCompute(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        col("doc_id")),
      "doc_id", "text", divisor = 16)

  /** Per-source document cap — the curation quota step ("at most N
    * docs per source/domain", RefinedWeb-style): rank within source
    * by (n_chars desc, doc_id) and keep the top 20. Same
    * WindowGroupLimit pushdown shape as o3: each task keeps <= N rows
    * per group before the exchange.
    */
  def cap1SourceCap(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, d)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id"))))
      .filter(col("rk") <= 20)
      .select(col("doc_id"), col("source"), col("rk"))
  }

  /** N-gram novelty scoring: per document, the fraction of its
    * DISTINCT word-trigrams that also occur in at least one OTHER
    * document — the doc-level duplication-fraction signal ("how much
    * of this doc is boilerplate the corpus already has"), the scoring
    * dual of the pair-detection dd family. Shape: distinct (doc,gram)
    * pairs -> gram doc-frequency via a window over the gram partition
    * -> per-doc mean of (df > 1); ONE gram-keyed shuffle (iv1's
    * trick — the old aggregate + self-rejoin shuffled the stream
    * twice), no pairwise anything — at 100 TB this is the affordable
    * whole-corpus duplication audit (the pair joins are reserved for
    * the candidates dedup acts on). Fraction emitted as round(·,6)
    * through DECIMAL, DOUBLE at the edge.
    */
  def nov1NgramNovelty(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // fan-out below the shingle explode (guide §2): per-doc gram-set
    // building otherwise single-core inside a few-row-group scan
    val grams = graft.ops.Ops.fanOutForCompute(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        col("doc_id"))
      .select(col("doc_id"), explode(array_distinct(
        Dedup.wordShingles(col("text"), 3))).as("gram"))
    // doc-frequency via a window over the gram partition (iv1's
    // one-shuffle trick): the exploded gram stream shuffles ONCE and
    // n_docs lands on each row in place — vs the old aggregate +
    // self-rejoin, which shuffled the same stream twice and carried a
    // gram-keyed join build side
    grams
      .withColumn("n_docs",
        count(lit(1)).over(Window.partitionBy(col("gram"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_grams"), col("n_shared"),
        // round-via-decimal for exact tie behavior; DOUBLE at the edge
        round(col("n_shared").cast("double") / col("n_grams"), 6)
          .cast("decimal(18,6)").cast("double").as("shared_frac"))
  }

  /** Relational inverted index over the corpus ([[graft.text.Search]]):
    * posting rows (term, doc, tf, df), df from a window over the term
    * partition of the tf aggregate — shuffled once, no self-join.
    */
  def iv1InvertedIndex(s: SparkSession, d: String): DataFrame =
    graft.text.Search.invertedIndex(Tables.documents(s, d))

  /** BM25 top-20 for a fixed bag-of-terms query; per-term contributions
    * rounded then summed as DECIMAL so combine order can't move the
    * score ([[graft.text.Search.bm25TopK]]).
    */
  def t13Bm25(s: SparkSession, d: String): DataFrame =
    graft.text.Search.bm25TopK(Tables.documents(s, d),
      Seq("hash", "join", "vector"), k = 20)

  /** Edit-distance-1 spelling-variant pairs over the part-name
    * vocabulary via SymSpell deletion-neighborhood blocking — O(V·len)
    * candidates, not O(V²) comparisons
    * ([[graft.text.Search.editDistanceOnePairs]]).
    */
  def ed1SpellingPairs(s: SparkSession, d: String): DataFrame =
    graft.text.Search.spellingVariantPairs(
      Tables.part(s, d).select(col("p_name").as("text")), "text",
      minTermLen = 3, minFreq = 1L)

  /** Daily gap-fill + forward-fill of the event stream per event type
    * ([[graft.ops.TimeSeries.gapFillDaily]]).
    */
  def ts1GapFill(s: SparkSession, d: String): DataFrame =
    graft.ops.TimeSeries.gapFillDaily(
      Tables.events(s, d), "event_type", "ts", "value")

  /** Curation composition over the round's new operators — the third
    * end-to-end pipeline (pipe1 cleans, pipe2 preps training data,
    * pipe3 CURATES): deterministic train split (spl1's md5 bucket)
    * -> per-source quota (cap1's rank limit, 20/source) -> content-
    * defined chunking (cdc1) -> exact chunk-level dedup keeping the
    * lowest (doc_id, chunk_id) per distinct chunk text — the
    * CDC-then-dedup pairing is the point: edit-stable chunks make
    * verbatim reuse across documents dedup at chunk granularity.
    * Dedup is a groupBy(chunk_text) min(struct) — partial-aggregating,
    * no window over the full chunk stream. The WHOLE composition has
    * one composed DuckDB dual.
    */
  def pipe3Curation(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
      16, 10).cast("bigint") % 100
    val train = Tables.documents(s, d).filter(bucket < 80)
    val capped = train
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id"))))
      .filter(col("rk") <= 20)
      .drop("rk")
    val chunks = graft.export.Packing.cdcChunkDocuments(
      capped, "doc_id", "text", divisor = 16)
    chunks
      .groupBy(col("chunk_text"))
      .agg(min(struct(col("doc_id"), col("chunk_id"),
        col("n_chunk_tokens"))).as("keep"))
      .select(col("keep.doc_id"), col("keep.chunk_id"),
        col("keep.n_chunk_tokens"))
  }

  /** BPE tokenizer training ([[graft.text.Bpe]]): 5 merge steps
    * learned on the corpus vocabulary. Output = the merge table
    * (step, pair, corpus weight) — the artifact a tokenizer ships.
    * The corpus reduces to the (word, freq) vocab once; every merge
    * iteration is an aggregate over that small table + a 1-row
    * collect, so training cost is independent of corpus size past
    * the first shuffle. The dual unrolls the same 5 iterations as
    * chained CTEs with an identical merge fold (list_reduce).
    */
  def bpe1TrainMerges(s: SparkSession, d: String): DataFrame = {
    val merges = Bpe.train(Tables.documents(s, d), "text", nMerges = 5)
    import s.implicits._
    merges.toDF("step", "merge_a", "merge_b", "weight")
  }

  /** Apply the trained BPE vocabulary back to the corpus: per-document
    * whitespace-token and BPE-symbol counts via a broadcast
    * word -> n_syms join ([[graft.text.Bpe.applyCounts]]) — the
    * "tokenize the corpus" pass, one scan + one per-doc aggregate.
    */
  def bpe2ApplyCounts(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Bpe.applyCounts(docs, "text", "doc_id",
      Bpe.train(docs, "text", nMerges = 5))
  }

  /** Radius (range) similarity search: ALL corpus vectors with cosine
    * >= threshold of the query — the dual of top-k (fixed quality bar,
    * unbounded result count). One scan, codegen'd cosine, the filter
    * sits directly on the scan output.
    */
  def ann5RadiusSearch(s: SparkSession, d: String): DataFrame =
    Similarity.cosineScores(
        Tables.embeddings(s, d).filter(col("vec_id") =!= 0),
        "vec_id", "embedding", queryVec(s, d))
      // threshold the ROUNDED score: raw cosines differ in low bits
      // across engines (float32 vs double accumulation); the rounded
      // values are the cross-engine contract (x1_sql_cosine precedent)
      .select(col("vec_id"), round(col("sim"), 4).as("sim4"))
      .filter(col("sim4") >= 0.3)

  /** Batch exact top-k: queries 1..5 scored against the rest of the
    * corpus in one pass, per-query bounded-heap top-10.
    */
  def ann4Batch(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id").between(1, 5))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.filter(col("vec_id") > 5)
    Similarity.batchTopK(queries, corpus, "qid", "qvec",
        "vec_id", "embedding", k = 10)
      .select(col("qid"), col("rank"), col("vec_id"),
        round(col("sim"), 4).as("sim4"))
  }

  // ---- multimodal (stubbed decode; real plumbing) -------------------

  def mm1DecodeStub(s: SparkSession, d: String): DataFrame = {
    val media = Multimodal.documentsAsMedia(Tables.documents(s, d))
    Multimodal.extractFeatures(s, media, new Multimodal.StubDecoder(8))
      .toDF()
      .select(col("media_id"), col("media_type"),
        col("n_bytes"), size(col("features")).as("feat_dim"))
  }

  /** Frame sampling (one->many generator shape): every 2nd 1 KiB frame
    * per payload, provenance via (media_id, frame_idx). The frame
    * boundaries are pure arithmetic over payload length, so DuckDB can
    * oracle the full output shape.
    */
  def mm2FrameSample(s: SparkSession, d: String): DataFrame = {
    val media = Multimodal.documentsAsMedia(Tables.documents(s, d))
    Multimodal.sampleFrames(s, media, frameBytes = 1024, everyNth = 2)
      .toDF()
      .select(col("media_id"), col("frame_idx"),
        length(col("payload")).as("frame_bytes"))
  }

  /** mm3's synthetic 18x16 grayscale fixture: pixel i of doc `id` is
    * md5-derived from the doc's BASE id (geo3's hex4 trick — integer
    * arithmetic both engines replay bit-identically). Every doc with
    * id % 7 == 3 is a RETOUCHED COPY of id - 1: same base pixels with
    * +73 (mod 256) applied to pixels i % 7 == 0 in the top 4 rows
    * (i < 72) — confined to dHash band 0, so a twin always shares
    * bands 1-3 with its original and band-bucket LSH recall is exact
    * by construction while the hamming distances still spread 0-8.
    */
  private def mm3PixelFixture(docs: DataFrame): DataFrame = {
    val base = when(pmod(col("doc_id"), lit(7)) === 3 && col("doc_id") > 0,
      col("doc_id") - 1).otherwise(col("doc_id"))
    val retouched =
      pmod(col("doc_id"), lit(7)) === 3 && col("doc_id") > 0
    docs.select(col("doc_id").as("media_id"), base.as("base"),
        retouched.as("tw"))
      .select(col("media_id"), transform(
        sequence(lit(0), lit(18 * 16 - 1)),
        i => {
          val p = pmod(conv(substring(md5(concat(col("base").cast("string"),
            lit("#px#"), i.cast("string")).cast("binary")), 1, 4), 16, 10)
            .cast("long"), lit(256))
          when(col("tw") && pmod(i, lit(7)) === 0 && i < 72,
            pmod(p + 73, lit(256))).otherwise(p).cast("int")
        }).as("pixels"))
  }

  /** mm3: image near-dup by perceptual hash — the LAION-style
    * multimodal dedup stage, run through REAL binary plumbing: the
    * pixel fixture encodes to actual PNG payloads
    * ([[Multimodal.encodeGrayPng]]), ImageIO decodes them back, and
    * the 64-bit dHash (9x8 block-sum differences) reduces each image
    * to four 16-bit bands ([[Multimodal.imageDhashBands]]).
    * Candidates come from a band-bucket equi-join (any of 4 bands
    * exact — the Hamming-LSH recipe: a pair within radius 8 must
    * agree on ≥1 whole band when its disagreements are confined to
    * ≤3 bands, and the fixture's retouch is band-0-confined by
    * construction); the exact Hamming verify runs on candidates only.
    *
    * Scale shape: payload bytes never shuffle — the binary column
    * reduces per-partition to 20 B band rows; the self-join moves
    * (id, band, v) and the verify joins band rows back BY ID. The
    * DuckDB oracle replays pixels → block sums → bits → bands →
    * band-join → Hamming from the same md5 formula (no codec): the
    * cross-engine equality PROVES the PNG encode/decode cycle is
    * pixel-exact end to end.
    */
  def mm3ImageDhashNeardup(s: SparkSession, d: String): DataFrame = {
    // spread the codec stage: the docs parquet arrives in a handful of
    // file partitions, and ImageIO encode/decode is the per-row cost
    // here — repartitioning the SLIM pixel frame (id + 288 ints, ~6 MB
    // at sf0.1) unlocks full-core codec parallelism for a negligible
    // shuffle (measured 7.5 s -> sub-second at sf0.1)
    val pix = mm3PixelFixture(Tables.documents(s, d).select(col("doc_id")))
      .repartition(col("media_id"))
    val media = Multimodal.encodeGrayPng(s, pix, w = 18, h = 16)
    // checkpoint the 20 B/row band frame: four join branches reference
    // it (slim ×2, verify ×2) and each is a distinct exchange — without
    // the cut, every image pays the PNG encode + ImageIO decode once
    // PER BRANCH
    val bands = Multimodal.imageDhashBands(s, media.toDF()).toDF()
      .localCheckpoint(true)
    bandedHammingPairs(bands, maxHamming = 10)
  }

  /** Shared tail of the banded perceptual near-dup operators (mm3
    * image, mm4 audio): candidates from a band-bucket equi-join over
    * the four 16-bit bands (any band exact — the Hamming-LSH recipe),
    * then the exact Hamming verify on candidate pairs only. Input is
    * the 20 B/row (media_id, b0..b3) frame — the media payloads are
    * already gone, so no shuffle here ever moves binary.
    */
  private def bandedHammingPairs(
      bands: DataFrame, maxHamming: Int): DataFrame = {
    val slim = bands.select(col("media_id").as("id"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3"))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "v")
    val cand = slim.select(col("id").as("id_a"), col("band"), col("v"))
      .join(slim.select(col("id").as("id_b"), col("band"), col("v")),
        Seq("band", "v"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val ham = (0 to 3).map(i =>
      bit_count(col(s"ab$i").bitwiseXOR(col(s"bb$i"))))
      .reduce(_ + _)
    cand
      .join(bands.select(col("media_id").as("id_a"), col("b0").as("ab0"),
        col("b1").as("ab1"), col("b2").as("ab2"), col("b3").as("ab3")),
        Seq("id_a"))
      .join(bands.select(col("media_id").as("id_b"), col("b0").as("bb0"),
        col("b1").as("bb1"), col("b2").as("bb2"), col("b3").as("bb3")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), ham.cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** mm4's synthetic audio fixture: 528 signed 16-bit PCM samples per
    * doc (33 windows × 16), sample j md5-derived from the doc's BASE
    * id (the mm3/geo3 hex4 trick). Every doc with id % 11 == 5 is a
    * RE-ENCODING of id - 1: same base samples except positions
    * j < 80 with j % 5 == 0 redrawn from an independent '#tw#' stream
    * — confined to windows 0-4, whose temporal-delta comparisons feed
    * fingerprint bits 0-9 ONLY (bit pair (2w, 2w+1) reads windows w
    * and w+1, so the last touched comparison is w = 4), all inside
    * band 0. A twin therefore always shares bands 1-3 with its
    * original (band-bucket recall exact by construction) and its
    * Hamming distance spreads 0-10, inside the query radius.
    */
  private def mm4SampleFixture(docs: DataFrame): DataFrame = {
    val isTw = pmod(col("doc_id"), lit(11)) === 5 && col("doc_id") > 0
    val base = when(isTw, col("doc_id") - 1).otherwise(col("doc_id"))
    def draw(tag: String,
        j: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      pmod(conv(substring(md5(concat(col("b").cast("string"),
        lit(tag), j.cast("string")).cast("binary")), 1, 4), 16, 10)
        .cast("long"), lit(4096)) - 2048
    docs.select(col("doc_id").as("media_id"), base.as("b"),
        isTw.as("tw"))
      .select(col("media_id"), transform(
        sequence(lit(0), lit(33 * 16 - 1)),
        j => when(col("tw") && j < 80 && pmod(j, lit(5)) === 0,
          draw("#tw#", j)).otherwise(draw("#au#", j)).cast("int"))
        .as("samples"))
  }

  /** mm4: audio near-dup by perceptual fingerprint — the
    * cross-recording dedup stage of an audio curation pipeline, run
    * through REAL binary plumbing: the sample fixture encodes to
    * actual mono PCM16 WAV payloads ([[Multimodal.encodePcm16Wav]]),
    * `javax.sound` decodes them back, and the chromaprint-shaped
    * fingerprint ([[Multimodal.audioFingerprintBands]]: per-window
    * Haar low/high sub-band energies in exact integer math, 64
    * temporal delta bits) reduces each recording to four 16-bit
    * bands. Candidates come from the same band-bucket equi-join as
    * the image family (any of 4 bands exact; the fixture's
    * re-encoding perturbation is band-0-confined by construction) and
    * the exact Hamming verify runs on candidates only.
    *
    * Scale shape: identical to mm3 — audio bytes never shuffle (the
    * payload reduces per-partition to 20 B band rows), the self-join
    * moves (id, band, v), and the verify joins band rows back BY ID.
    * The DuckDB oracle replays samples → Haar pair sums → window
    * energies → delta bits → bands → band-join → Hamming from the
    * same md5 formula (no codec): cross-engine equality PROVES the
    * WAV encode/decode cycle is sample-exact end to end.
    */
  def mm4AudioNeardup(s: SparkSession, d: String): DataFrame =
    mm4On(s, Tables.documents(s, d))

  /** The frame-parameterized core: the query over any documents frame. */
  private[graft] def mm4On(s: SparkSession, docs: DataFrame): DataFrame = {
    // same two plan moves as mm3, same reasons — but the fan-out now
    // sits BELOW the fixture projection: the 528 md5 draws per doc
    // evaluate in the projection, and with the exchange above it they
    // all ran inside the one-row-group scan stage on a single core
    // (round-14 measurement: mm4 4.6 s isolated, fixture-bound). The
    // checkpoint of the 20 B/row band frame still keeps the four
    // downstream join branches from re-running the WAV encode+decode
    val smp = mm4SampleFixture(graft.ops.Ops.fanOutForCompute(
      docs.select(col("doc_id")), col("doc_id")))
    val media = Multimodal.encodePcm16Wav(s, smp)
    val bands = Multimodal.audioFingerprintBands(s, media.toDF()).toDF()
      .localCheckpoint(true)
    bandedHammingPairs(bands, maxHamming = 10)
  }

  /** mm5's synthetic video fixture: 5 frames of a 9x8 grayscale
    * canvas per doc, all pixel values md5-derived from the doc's BASE
    * id (the mm3/mm4 hex4 trick) in CLOSED FORM per (pixel, frame):
    * a static background (`#v0#`, frame-independent) with a per-frame
    * MOVING set (pixels i with i % 23 == (5k) % 23 redrawn from
    * `#vd#` at frame k) — so consecutive frames differ in ~7 pixels
    * (the new moving set appears, the old one reverts to background),
    * which is exactly what the RLE8 delta encoder turns into skip
    * runs + literal runs, and frame k's full canvas is still
    * expressible as one SQL CASE (no cumulative state).
    *
    * Twins: id % 13 == 7 is a RE-ENCODING of id - 1 with pixels
    * i < 18 ∧ i % 4 == 0 redrawn per frame from `#tw#` — confined to
    * dHash rows 0-1 = bits 0-15 = band 0 (the 9x8 canvas under the
    * 9x8 grid makes block sums single pixels), so a twin shares bands
    * 1-3 with its original at EVERY frame and its per-frame Hamming
    * spreads 0-8 (≤ 2 bits per perturbed pixel, pixels 0 and 8 touch
    * only one comparison each).
    */
  private def mm5FrameFixture(docs: DataFrame): DataFrame = {
    val isTw = pmod(col("doc_id"), lit(13)) === 7 && col("doc_id") > 0
    val base = when(isTw, col("doc_id") - 1).otherwise(col("doc_id"))
    def draw(tag: String, i: org.apache.spark.sql.Column,
        k: Option[org.apache.spark.sql.Column]): org.apache.spark.sql.Column = {
      val seed = k match {
        case Some(kk) => concat(col("b").cast("string"), lit(tag),
          i.cast("string"), lit("#"), kk.cast("string"))
        case None => concat(col("b").cast("string"), lit(tag),
          i.cast("string"))
      }
      pmod(conv(substring(md5(seed.cast("binary")), 1, 4), 16, 10)
        .cast("long"), lit(256))
    }
    docs.select(col("doc_id").as("media_id"), base.as("b"), isTw.as("tw"))
      .select(col("media_id"), transform(
        sequence(lit(0), lit(4)),
        k => transform(sequence(lit(0), lit(71)), i =>
          when(col("tw") && i < 18 && pmod(i, lit(4)) === 0,
            draw("#tw#", i, Some(k)))
            .when(pmod(i, lit(23)) === pmod(k * 5, lit(23)),
              draw("#vd#", i, Some(k)))
            .otherwise(draw("#v0#", i, None)).cast("int")))
        .as("frames"))
  }

  /** mm5: video temporal near-dup — the codec → fingerprint → join
    * composition over a REAL inter-frame codec: the closed-form frame
    * fixture encodes to actual RLE8-delta AVI payloads
    * ([[Multimodal.encodeRle8Avi]]: skip escapes for retained pixels,
    * literal runs for changes), [[Multimodal.sampleRle8VideoFrames]]
    * reconstructs every 2nd frame by folding the delta stream onto
    * the carried canvas (the temporal decode), each sampled frame
    * re-enters the IMAGE family's dHash kernel
    * ([[Multimodal.frameDhashBands]]), and candidates come from a
    * FRAME-ALIGNED band-bucket equi-join (any of 4 bands exact at the
    * same frame index). The verify is frame-aligned exact Hamming:
    * a pair survives only if EVERY sampled frame sits within radius
    * 8; `ham_total` reports the summed distance.
    *
    * Scale shape: video bytes never shuffle — payloads reduce
    * per-partition to 24 B/row frame-band rows; the self-join moves
    * (id, frame, band, v) and the verify joins band rows back BY ID.
    * The DuckDB oracle replays frame pixels from the closed form (no
    * codec) → bits → bands → aligned band-join → per-frame Hamming →
    * all-frames gate: cross-engine equality PROVES the RLE8 delta
    * encode + temporal fold-decode cycle reconstructs every sampled
    * canvas pixel-exactly.
    */
  def mm5VideoNeardup(s: SparkSession, d: String): DataFrame =
    mm5On(s, Tables.documents(s, d))

  /** The frame-parameterized core: the query over any documents frame. */
  private[graft] def mm5On(s: SparkSession, docs: DataFrame): DataFrame = {
    // mm3/mm4's two plan moves, same reasons — fan-out BELOW the
    // fixture projection (mm4's round-14 fix): the ~360 per-doc md5
    // draws otherwise evaluate single-core inside the scan stage
    val pix = mm5FrameFixture(graft.ops.Ops.fanOutForCompute(
      docs.select(col("doc_id")), col("doc_id")))
    val avi = Multimodal.encodeRle8Avi(s, pix, w = 9, h = 8)
    val frames = Multimodal.sampleRle8VideoFrames(s, avi.toDF(), w = 9,
      h = 8, everyNth = 2)
    val bands = Multimodal.frameDhashBands(s, frames.toDF(), w = 9, h = 8)
      .toDF().localCheckpoint(true)
    val slim = bands.select(col("media_id").as("id"), col("frame_idx"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3"))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "v")
    val cand = slim.select(col("id").as("id_a"), col("frame_idx"),
        col("band"), col("v"))
      .join(slim.select(col("id").as("id_b"), col("frame_idx"),
        col("band"), col("v")), Seq("frame_idx", "band", "v"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val ham = (0 to 3).map(i =>
      bit_count(col(s"ab$i").bitwiseXOR(col(s"bb$i"))))
      .reduce(_ + _)
    cand
      .join(bands.select(col("media_id").as("id_a"),
        col("frame_idx"), col("b0").as("ab0"), col("b1").as("ab1"),
        col("b2").as("ab2"), col("b3").as("ab3")), Seq("id_a"))
      .join(bands.select(col("media_id").as("id_b"),
        col("frame_idx"), col("b0").as("bb0"), col("b1").as("bb1"),
        col("b2").as("bb2"), col("b3").as("bb3")),
        Seq("id_b", "frame_idx"))
      .select(col("id_a"), col("id_b"), col("frame_idx"),
        ham.cast("int").as("ham"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("ham")).as("ham_max"),
        sum(col("ham")).cast("int").as("ham_total"))
      .filter(col("ham_max") <= 8)
      .select(col("id_a"), col("id_b"), col("ham_total"))
  }

  /** mm6's (caption, image) PAIR fixture — the LAION-style record:
    * each doc carries a caption and an image, and near-duplication is
    * judged JOINTLY. Twins sit at id % 9 == 4 (base id - 1) in three
    * planted classes by (id / 9) % 3, exercising every disagreement
    * quadrant:
    *   class 0 — JOINT dup: caption = base's text + " zq" (trigram
    *     Jaccard ≈ 0.97, winnow fingerprints mostly shared) AND image
    *     = base's pixels with the mm3 band-0 retouch;
    *   class 1 — image-only: same retouched image, caption REDRAWN
    *     (md5 hex gibberish — no shared fingerprints);
    *   class 2 — caption-only: same near-dup caption, image REDRAWN
    *     (fresh '#imgr#' stream — no shared bands).
    * Non-twins carry their own text and their own '#px6#' pixels.
    * Only class 0 must survive the cross-modal gate. Captions derive
    * from the BASE doc's text via a slim self-join on (id, base) —
    * ids and texts only, no media bytes.
    */
  private def mm6Fixture(docs: DataFrame): (DataFrame, DataFrame) = {
    val id = col("doc_id")
    val isTw = pmod(id, lit(9)) === 4 && id > 0
    val cls = when(isTw, pmod(floor(id / 9).cast("long"), lit(3)))
      .otherwise(lit(-1L))
    val base = when(isTw, id - 1).otherwise(id)
    val lab = docs.select(id, cls.as("cls"), base.as("b"))
    val caps = lab
      .join(docs.select(col("doc_id").as("b"),
        col("text").as("base_text")), Seq("b"))
      .select(col("doc_id"),
        when(col("cls") === 1,
          md5(concat(col("doc_id").cast("string"), lit("#cap#"))
            .cast("binary")))
          .when(col("cls") === 0 || col("cls") === 2,
            concat(col("base_text"), lit(" zq")))
          .otherwise(col("base_text")).as("caption"))
    val seed = when(col("cls") === 2,
      concat(col("doc_id").cast("string"), lit("#imgr#")))
      .otherwise(concat(col("b").cast("string"), lit("#px6#")))
    val retouched = col("cls") === 0 || col("cls") === 1
    val pix = lab
      .select(col("doc_id").as("media_id"), seed.as("sd"),
        retouched.as("rt"))
      .select(col("media_id"), transform(
        sequence(lit(0), lit(18 * 16 - 1)),
        i => {
          val p = pmod(conv(substring(md5(concat(col("sd"),
            i.cast("string")).cast("binary")), 1, 4), 16, 10)
            .cast("long"), lit(256))
          when(col("rt") && pmod(i, lit(7)) === 0 && i < 72,
            pmod(p + 73, lit(256))).otherwise(p).cast("int")
        }).as("pixels"))
    (caps, pix)
  }

  /** mm6: CROSS-MODAL pair near-dup — LAION-style (caption, image)
    * joint dedup, composing the image family's machinery with the
    * text tier's: the image side runs the REAL codec chain
    * ([[Multimodal.encodeGrayPng]] → [[Multimodal.imageDhashBands]] →
    * band-bucket candidates → exact Hamming ≤ 10), the text side runs
    * dd20's df-capped winnow fingerprint candidacy over the captions
    * ([[Clean.winnowCandidatesOn]]), and a pair survives ONLY when
    * BOTH modalities agree: the joint candidate set is the
    * intersection (an equi-join of two slim pair frames), and the
    * expensive exact trigram-Jaccard verify runs on that intersection
    * alone — the cheapest-gate-first composition a production
    * (caption, image) dedup runs.
    *
    * The fixture's three twin classes prove the gate is genuinely
    * conjunctive: image-only twins (shared bands, gibberish caption)
    * and caption-only twins (near-dup caption, redrawn image) must
    * BOTH be rejected; MultimodalSpec asserts the class split.
    *
    * Scale shape: no media bytes past the band reduction, both
    * candidate frames are bounded (band LSH / df-cap), the
    * intersection only shrinks them, and the Jaccard verify is
    * candidate-bound. The DuckDB oracle replays pixels from the md5
    * closed form, captions from the same self-join, the winnow chain
    * from dd20's SQL, and the conjunction — one dual for the whole
    * composition.
    */
  def mm6CrossModalNeardup(s: SparkSession, d: String): DataFrame =
    mm6On(s, Tables.documents(s, d))

  /** The frame-parameterized core: the query over any documents frame. */
  private[graft] def mm6On(s: SparkSession, docsIn: DataFrame): DataFrame = {
    // fan-out at the top so the fixture's 288 per-doc md5 pixel draws
    // AND the caption winnow chain both run wide (mm4's round-14 fix);
    // everything below derives its partitioning from here, so the
    // pre-codec repartition becomes the no-op guard path
    val docs = graft.ops.Ops.fanOutForCompute(
      docsIn.select(col("doc_id"), col("text")), col("doc_id"))
    val (caps, pix) = mm6Fixture(docs)
    val media = Multimodal.encodeGrayPng(s,
      graft.ops.Ops.fanOutForCompute(pix, col("media_id")), w = 18, h = 16)
    val bands = Multimodal.imageDhashBands(s, media.toDF()).toDF()
      .localCheckpoint(true)
    // image-verified pairs are slim — checkpoint so the final
    // hamming re-attach doesn't replay the band self-join
    val imgPairs = bandedHammingPairs(bands, maxHamming = 10)
      .localCheckpoint(true)
    val txtCands = graft.queries.Clean.winnowCandidatesOn(
      caps, "doc_id", "caption", dfCap = 16)
    val joint = imgPairs.select(col("id_a"), col("id_b"))
      .join(txtCands, Seq("id_a", "id_b"))
    graft.dedup.Dedup
      .exactJaccardScores(caps, "doc_id", "caption", joint)
      .filter(col("jaccard") >= 0.8)
      .join(imgPairs, Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("hamming"), col("jaccard"))
  }

  // ---- seeded stratified sampling (data-recipe surface) ------------

  /** Per-language sampling quotas (seeded, reproducible). Uses the
    * engine-portable hash-Bernoulli form ([[graft.sampling.Sampling
    * .stratifiedSampleByHash]]) so DuckDB reproduces the EXACT kept
    * set — the same portability trick that makes smp2/smp3 oracle-
    * exact, extended from fixed-k to fixed-fraction sampling. (The
    * `df.stat.sampleBy` variant remains in the API; its engine-
    * specific hash is covered by SamplingSpec instead.)
    */
  def smp1Stratified(s: SparkSession, d: String): DataFrame =
    graft.sampling.Sampling.stratifiedSampleByHash(
      Tables.documents(s, d), "lang", col("doc_id"),
      Map("en" -> 0.5, "de" -> 1.0, "fr" -> 1.0, "es" -> 0.25, "zh" -> 0.25))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"))

  /** Deterministic fixed-SIZE sample: 5 docs per language by Knuth
    * multiplicative-hash priority (engine-portable, so DuckDB
    * reproduces the EXACT sample — priority sampling's cross-engine
    * reproducibility is the point). Bottom-k runs inside a partial
    * aggregate: only k rows per group per task reach the shuffle.
    */
  def smp2SampleK(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    graft.sampling.Sampling.sampleKPerGroup(
      docs,
      groupCols = Seq("lang"),
      priority = graft.sampling.Sampling.knuthPriority(col("doc_id"), 42L),
      payload = Seq(
        "prio" -> graft.sampling.Sampling.knuthPriority(col("doc_id"), 42L),
        "doc_id" -> col("doc_id")),
      k = 5)
  }

  /** Weight-proportional sample (5 docs per language, weight =
    * n_chars): Efraimidis–Spirakis priorities over the portable hash
    * uniform, bottom-k inside the partial aggregate. Long documents
    * are proportionally likelier — the "sample by length/quality"
    * data-recipe op — and DuckDB reproduces the exact draw.
    */
  def smp3WeightedK(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("n_chars") > 0)
    val prio = graft.sampling.Sampling.weightedPriority(
      col("doc_id"), col("n_chars"), 7L)
    graft.sampling.Sampling.sampleKPerGroup(
      docs,
      groupCols = Seq("lang"),
      priority = prio,
      payload = Seq("w_prio" -> prio, "doc_id" -> col("doc_id")),
      k = 5)
  }

  /** Deterministic global training order ([[graft.sampling.Sampling
    * .trainingOrder]]): every doc's exact 0-based position in the
    * seeded permutation, computed by distributed prefix-count (no
    * single-partition window). The priority is the portable Knuth
    * hash, so DuckDB reproduces the identical permutation via
    * row_number — pinning both the order AND the rank arithmetic.
    */
  def shuf1TrainingOrder(s: SparkSession, d: String): DataFrame =
    graft.sampling.Sampling.trainingOrder(
      Tables.documents(s, d), "doc_id", seed = 42L)

  /** Z-order layout keys as data: the Morton key each document row
    * would sort by under a (doc_id%256, n_chars%256) two-dimensional
    * layout. The write-path pruning effect is proven in ZOrderSpec;
    * this query pins the KEY ITSELF cross-engine — DuckDB reproduces
    * the bit interleave with generated HUGEINT arithmetic (see
    * [[z1Oracle]]), so layouts written by different engines would
    * cluster identically.
    */
  def z1ZorderKey(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      graft.functions.ZOrderFunctions.zorder_i64(
        pmod(col("doc_id"), lit(256)).cast("int"),
        pmod(col("n_chars"), lit(256)).cast("int")).as("zkey"))

  /** DuckDB cannot call our native expression, but the Morton
    * interleave is pure integer arithmetic: bit i of x lands at
    * 2i+1, bit i of y at 2i (after per-input sign-bit flips = +2^31
    * for non-negative inputs), and the final top-bit flip is a
    * subtraction of 2^63 in HUGEINT space. Generate the 64 terms.
    */
  private[queries] def z1Oracle: String = {
    def terms(src: String, off: Int): Seq[String] =
      (0 to 31).map { i =>
        val pow = BigInt(2).pow(2 * i + off)
        s"(($src // ${1L << i}) % 2) * CAST('$pow' AS HUGEINT)"
      }
    val all = (terms("xa", 1) ++ terms("ya", 0)).mkString(" + ")
    s"""WITH b AS (
          SELECT doc_id,
                 CAST((doc_id % 256) + 2147483648 AS HUGEINT) AS xa,
                 CAST((n_chars % 256) + 2147483648 AS HUGEINT) AS ya
          FROM documents)
        SELECT doc_id,
               CAST(($all) - CAST('9223372036854775808' AS HUGEINT)
                 AS BIGINT) AS zkey
        FROM b"""
  }

  // ---- end-to-end corpus cleaning pipeline (composition demo) ------

  /** The canonical training-data prep chain: quality gate -> exact
    * dedup -> near-dup removal -> per-doc stats. Every phase is
    * engine-portable (the near-dup phase is the EXACT prefix-filtered
    * Jaccard join, [[Dedup.exactJaccardPairs]] — guaranteed-recall
    * exact semantics, not a hash-specific LSH approximation), so the
    * WHOLE composition has a DuckDB dual and is oracle-checked
    * end-to-end, not just rows-counted. (The MinHash variant of the
    * same chain remains available via [[Dedup.minhashPairs]]; its
    * hash-specific pair set is covered by DedupSpec recall gates.)
    */
  def pipe1CorpusClean(s: SparkSession, d: String): DataFrame = {
    val quality = Tables.documents(s, d).filter(TextFunctions.qualityScore(col("text")) > 0.3)
    // phase boundary: the downstream near-dup pass references this
    // frame several times (gram explode + per-side set fetches + the
    // final anti-join); checkpointing it turns the recomputes of the
    // filter+semi-join subtree into 1
    val exactKept = quality.join(
        Dedup.exactKeepIds(quality, "doc_id", "text"), Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    val nearPairs = Dedup.exactJaccardPairs(exactKept, "doc_id", "text",
      threshold = 0.9)
    Dedup.keepAfterPairs(exactKept, "doc_id", nearPairs)
      .select(col("doc_id"), col("lang"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.langId(col("text")).as("predicted_lang"))
  }

  /** The full training-data preparation chain, end-to-end and
    * oracle-exact through every stage: benchmark decontamination
    * (drop corpus docs whose word-trigram contamination vs the eval
    * slice exceeds 0.2) -> exact near-dup removal (char-trigram
    * Jaccard >= 0.8, guaranteed recall) -> long-doc chunking (16-token
    * windows, overlap 4) -> sequence packing (512-token budget over
    * the chunk stream in (doc, chunk) order). Every stage is the
    * engine-portable member of its family, so the WHOLE pipeline has
    * a DuckDB dual — the judge-grade check that composition introduces
    * no drift. Unit ids pack (doc_id, chunk_id) into one integer
    * (chunk_id < 2^20 by the corpus length bound).
    */
  def pipe2TrainingPrep(s: SparkSession, d: String): DataFrame =
    pipe2TrainingPrepOn(s, Tables.documents(s, d))

  /** The frame-parameterized core: the pipeline over any documents
    * frame (the dir form above is the query surface).
    */
  private[graft] def pipe2TrainingPrepOn(
      s: SparkSession, docsIn: DataFrame): DataFrame = {
    // pipeline-top fan-out, pipe1's rationale: the staged `clean`
    // frame pins its layout for the exact near-dup stage (~90% of this
    // pipeline's wall at the 10x replica)
    val docs = graft.ops.Ops.fanOutForCompute(docsIn, col("doc_id"))
    val corpus = docs.filter(pmod(col("doc_id"), lit(97)) =!= 0)
    val eval_ = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
    val scores = Dedup.contaminationScores(corpus, eval_, "doc_id", "text",
      k = 3)
    // phase boundary, same rationale as pipe1: the near-dup join
    // references this frame several times
    val clean = corpus.join(
        scores.filter(col("contamination") > 0.2).select("doc_id"),
        Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val pairs = Dedup.exactJaccardPairs(clean, "doc_id", "text",
      threshold = 0.8)
    val kept = Dedup.keepAfterPairs(clean, "doc_id", pairs)
    val chunks = graft.export.Packing.chunkDocuments(kept, "doc_id", "text",
      maxTokens = 16, overlap = 4)
    val units = chunks.select(
      (col("doc_id") * lit(1048576L) + col("chunk_id")).as("cid"),
      col("n_chunk_tokens"))
    graft.export.Packing.packSequences(units, "cid", "n_chunk_tokens",
      budget = 512L)
  }

  /** pipe2 with the near-dup stage swapped to the TIERED gate
    * ([[graft.queries.Clean.tieredNearDupPairsOn]]) — the r10 probe
    * decomposition attributed 146.5 s of pipe2's 164 s sf1rep wall
    * (~90%) to the exact prefix-filter pair join, so this is the
    * composition a 100 TB deployment actually runs: decontaminate ->
    * TIERED near-dup removal (df-capped winnow candidates + exact
    * verify; greedy smaller-id survives) -> chunk -> pack. Every
    * stage is still deterministic/engine-portable (md5 winnowing,
    * exact trigram Jaccard), so the WHOLE pipeline keeps a composed
    * DuckDB dual like pipe2's. Semantics vs pipe2: near-dup pairs
    * with no shared df-capped fingerprint are not removed (the MOSS
    * cap rule — dd20's documented contract); everything else is
    * identical.
    */
  def pipe5TieredPrep(s: SparkSession, d: String): DataFrame =
    pipe5TieredPrepOn(s, Tables.documents(s, d))

  private[graft] def pipe5TieredPrepOn(
      s: SparkSession, docsIn: DataFrame): DataFrame = {
    // pipeline-top fan-out, pipe2's rationale
    val docs = graft.ops.Ops.fanOutForCompute(docsIn, col("doc_id"))
    val corpus = docs.filter(pmod(col("doc_id"), lit(97)) =!= 0)
    val eval_ = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
    val scores = Dedup.contaminationScores(corpus, eval_, "doc_id", "text",
      k = 3)
    val clean = corpus.join(
        scores.filter(col("contamination") > 0.2).select("doc_id"),
        Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val pairs = graft.queries.Clean.tieredNearDupPairsOn(
      clean, threshold = 0.8, dfCap = 16)
    val kept = Dedup.keepAfterPairs(clean, "doc_id", pairs)
    val chunks = graft.export.Packing.chunkDocuments(kept, "doc_id", "text",
      maxTokens = 16, overlap = 4)
    val units = chunks.select(
      (col("doc_id") * lit(1048576L) + col("chunk_id")).as("cid"),
      col("n_chunk_tokens"))
    graft.export.Packing.packSequences(units, "cid", "n_chunk_tokens",
      budget = 512L)
  }

  /** pipe6: the AUTO-DISPATCHED training-prep composition — the last
    * manual tier choice closed: the SAME exact corpus statistic dd25
    * dispatches on ([[graft.queries.Clean.exactTierCandidateEstimate]],
    * computed on the raw input BEFORE any pipeline work) picks pipe2
    * (exact prefix-filter near-dup stage — the ~90%-of-wall stage at
    * sf1rep) under the threshold and pipe5 (dd20's tiered gate) past
    * it. Deterministic integers both engines compute identically, so
    * the oracle replays the dispatch plus both composed duals.
    */
  def pipe6AutoPrep(s: SparkSession, d: String): DataFrame =
    pipe6AutoPrepOn(s, Tables.documents(s, d),
      graft.queries.Clean.DefaultMaxExactCandidates)

  private[graft] def pipe6AutoPrepOn(s: SparkSession, docs: DataFrame,
      maxExactCandidates: Long): DataFrame = {
    val est = graft.queries.Clean.exactTierCandidateEstimate(docs)
    if (est <= maxExactCandidates) pipe2TrainingPrepOn(s, docs)
    else pipe5TieredPrepOn(s, docs)
  }

  // ---- as-of join (operator Spark lacks; graft.ops.AsOfJoin) --------

  /** Each event gets the user's latest signup `value` at-or-before the
    * event time (backward as-of). Oracle: DuckDB's native ASOF JOIN.
    */
  private def asofSides(s: SparkSession, d: String) = {
    import graft.ops.Ops._
    val ev = Tables.events(s, d)
    val left = ev.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"))
    val right = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("value").as("signup_value"))
      .distinctOn(Seq(col("user_id"), col("ts")),
        Seq(col("signup_value").desc))
    (left, right)
  }

  def asof1Backward(s: SparkSession, d: String): DataFrame = {
    val (left, right) = asofSides(s, d)
    graft.ops.AsOfJoin.asofJoin(left, right, Seq("user_id"), "ts", "ts",
      graft.plans.AsOfDir.Backward)
  }

  /** The skew-proof range-chunked backward as-of — identical semantics
    * to [[asof1Backward]] (same DuckDB oracle), executed with the
    * (key, time-bucket) partitioning that spreads a hot key over many
    * tasks ([[graft.ops.AsOfJoin.asofJoinChunked]]); the pinned-count
    * (key, bucket) repartition is REUSED by the operator's declared
    * distribution (zero added exchanges).
    */
  def asof4BackwardChunked(s: SparkSession, d: String): DataFrame = {
    val (left, right) = asofSides(s, d)
    graft.ops.AsOfJoin.asofJoinChunked(left, right, "user_id", "ts", "ts",
      graft.plans.AsOfDir.Backward)
  }

  /** Skew-proof nearest as-of — identical semantics to [[asof3Nearest]]
    * (same composed DuckDB oracle), executed with (key, time-bucket)
    * spread and BOTH-direction boundary carry
    * ([[graft.ops.AsOfJoin.asofJoinChunked]]).
    */
  def asof5NearestChunked(s: SparkSession, d: String): DataFrame = {
    val (left, right) = asofSides(s, d)
    graft.ops.AsOfJoin.asofJoinChunked(left, right, "user_id", "ts", "ts",
      graft.plans.AsOfDir.Nearest)
  }

  /** Earliest signup value at-or-after each event (forward as-of).
    * Oracle: DuckDB `ASOF LEFT JOIN ... ON l.ts <= r.ts`.
    */
  def asof2Forward(s: SparkSession, d: String): DataFrame = {
    val (left, right) = asofSides(s, d)
    graft.ops.AsOfJoin.asofJoin(left, right, Seq("user_id"), "ts", "ts",
      graft.plans.AsOfDir.Forward)
  }

  /** Tolerance-bounded backward as-of (pandas merge_asof semantics):
    * the latest signup matches only within 1 day of the event —
    * in-operator, because the output drops the right timestamp so a
    * user cannot post-filter. Oracle: DuckDB ASOF with the matched
    * payload nulled where `l.ts - r.ts` exceeds the interval.
    */
  def asof9ExecTolerance(s: SparkSession, d: String): DataFrame = {
    val (left, right) = asofSides(s, d)
    graft.ops.AsOfJoin.asofJoin(left, right, Seq("user_id"), "ts", "ts",
      graft.plans.AsOfDir.Backward, toleranceMicros = Some(86400L * 1000000L))
  }

  /** COMPOSITE-KEY as-of through the custom operator (symbol+venue
    * style): each event takes the latest reference event's value
    * at-or-before it within its (cohort, event_type) — equality on
    * BOTH key columns plus the one time inequality, DuckDB's
    * `ASOF ... ON cohort = cohort AND type = type AND l.ts >= r.ts`.
    */
  def asof10ExecMultikey(s: SparkSession, d: String): DataFrame = {
    import graft.ops.Ops._
    val ev = Tables.events(s, d)
    val left = ev.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), pmod(col("user_id"), lit(100)).as("cohort"))
    val right = ev.filter(pmod(col("event_id"), lit(7)) === 0)
      .select(pmod(col("user_id"), lit(100)).as("cohort"),
        col("event_type"), col("ts"), col("value").as("ref_value"))
      .distinctOn(Seq(col("cohort"), col("event_type"), col("ts")),
        Seq(col("ref_value").desc))
    graft.ops.AsOfJoin.asofJoin(left, right,
      Seq("cohort", "event_type"), "ts", "ts",
      graft.plans.AsOfDir.Backward)
  }

  /** [[asof1Backward]] through the AUTO-DISPATCHER
    * ([[graft.ops.AsOfJoin.asofJoinAuto]]): a cheap max-rows-per-key
    * probe picks the plain exec or the skew-chunked composition, so
    * the caller never reads a break-even table. Both tiers are
    * row-identical, so the SAME DuckDB ASOF oracle covers whichever
    * the dispatcher picks at each scale (uniform event keys here →
    * the plain exec; AsOfExecSpec proves the flip on a hot key).
    */
  def asof12Auto(s: SparkSession, d: String): DataFrame = {
    val (left, right) = asofSides(s, d)
    graft.ops.AsOfJoin.asofJoinAuto(left, right, "user_id", "ts", "ts")
  }

  /** Nearest-in-time signup value (ties -> backward). Oracle composes
    * DuckDB's backward + forward ASOF and picks per-row by distance.
    */
  def asof3Nearest(s: SparkSession, d: String): DataFrame = {
    val (left, right) = asofSides(s, d)
    graft.ops.AsOfJoin.asofJoin(left, right, Seq("user_id"), "ts", "ts",
      graft.plans.AsOfDir.Nearest)
  }

  // ---- graph clustering (the reference's portfolio build:
  //      wowutil.py:162-163 clusters landlord aliases into portfolios
  //      via an external graph package; here: distributed connected
  //      components, graft.graph.ConnectedComponents) ----------------

  /** Generic connected components, oracle-checked: edges chain each
    * customer to the next custkey within its
    * (nation, mktsegment, custkey%10) group, so every group is a PATH
    * — multi-hop transitive structure that label propagation would
    * need diameter rounds to close, collapsed by star contraction in
    * O(log diameter) rounds. The oracle computes the expected
    * partition analytically (component = min custkey of the group);
    * the Spark side discovers it generically from the edge list alone.
    * (GraphSpec's 200-node path covers the deep-diameter worst case;
    * the query keeps path length ~ sf-independent so bench timings
    * measure per-round cost, not round count.)
    */
  def g1Components(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Tables.customer(s, d)
    val w = Window.partitionBy(col("c_nationkey"), col("c_mktsegment"),
        pmod(col("c_custkey"), lit(10)))
      .orderBy(col("c_custkey"))
    val edges = c
      .select(col("c_custkey"),
        lag(col("c_custkey"), 1).over(w).as("prev_custkey"))
      .filter(col("prev_custkey").isNotNull)
    graft.graph.ConnectedComponents.run(
      edges, "prev_custkey", "c_custkey",
      nodes = Some(c.select(col("c_custkey"))))
  }

  /** Near-dup clusters + canonical-survivor selection: near-dup pairs
    * as edges, connected components as duplicate clusters, keep the
    * min doc id per cluster. Output is the per-cluster membership
    * summary for non-singleton clusters.
    *
    * The edge set is the EXACT prefix-filtered Jaccard join
    * ([[Dedup.exactJaccardPairs]]) — engine-independent, so DuckDB
    * reproduces the identical pairs by brute force and the identical
    * components by recursive CTE: the full cluster semantics are
    * oracle-checked, not just row counts. (The MinHash-pair variant of
    * the same pipeline remains available via [[Dedup.minhashPairs]] +
    * [[Dedup.nearDupClusters]]; its hash-specific pair set is covered
    * by DedupSpec/GraphSpec instead.)
    */
  def dd6ClusterKeep(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = TruthSets.exactJaccardPairs(s, d, threshold = 0.8)
    // component IS the canonical survivor id (min doc id of the
    // cluster, by ConnectedComponents' contract) — surface it as such
    Dedup.nearDupClusters(docs, "doc_id", pairs)
      .groupBy(col("component").as("keep_id"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > 1)
  }

  /** Training-sequence packing over n_chars with a 4096 budget —
    * [[graft.export.Packing.packSequences]]'s distributed prefix sum.
    * Pure integer arithmetic over the id order, so DuckDB reproduces
    * every placement exactly with a single global window (fine at
    * oracle scale; the operator exists precisely because that global
    * window doesn't scale).
    */
  def pk1SequencePack(s: SparkSession, d: String): DataFrame =
    graft.export.Packing.packSequences(
      Tables.documents(s, d), "doc_id", "n_chars", budget = 4096L)

  /** Length-bucketed packing ([[graft.export.Packing
    * .packSequencesBucketed]]): units banded into width-256 length
    * buckets, packed independently per band — bounded per-batch
    * padding. Same integer arithmetic as pk1 with a PARTITION BY
    * bucket, so the dual is exact.
    */
  def pk3BucketPack(s: SparkSession, d: String): DataFrame =
    graft.export.Packing.packSequencesBucketed(
      Tables.documents(s, d), "doc_id", "n_chars",
      budget = 4096L, bucketWidth = 256L)

  /** Long-document chunking ([[graft.export.Packing.chunkDocuments]]):
    * overlapping 16-token windows with stride 12 over every document —
    * pure per-row columnar work (no shuffle), and word windows are
    * plain strings in both engines, so the DuckDB dual is exact.
    */
  def pk2ChunkOverlap(s: SparkSession, d: String): DataFrame =
    graft.export.Packing.chunkDocuments(
      Tables.documents(s, d), "doc_id", "text",
      maxTokens = 16, overlap = 4)

  /** Benchmark decontamination: every 97th doc plays the "eval set";
    * the rest of the corpus is scored by the fraction of its distinct
    * word k-grams appearing anywhere in the eval set
    * ([[Dedup.contaminationScores]] — broadcast eval grams, one corpus
    * scan). Output: the contaminated docs (at least one shared
    * k-gram). String n-grams are engine-portable, so DuckDB reproduces
    * the exact scores. k=3 here because the synthetic corpus
    * randomizes wording quickly (word 8-grams never collide across
    * docs at gate scale); production decontamination uses k=8..13 via
    * the same operator parameter.
    */
  def dd8Contamination(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.contaminationScores(
      docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(97)) === 0),
      "doc_id", "text", k = 3)
      .filter(col("n_hits") > 0)
  }

  /** [[dd8Contamination]] through the bloom-pruned scale path
    * ([[Dedup.contaminationScoresBloom]]): for eval sets too big to
    * broadcast as an exact gram set, a fixed-size bloom of the eval
    * grams pre-filters the corpus gram stream scan-side and an exact
    * shuffle semi-join removes the bloom's false positives. No false
    * negatives, so the result is row-identical to dd8 and shares its
    * DuckDB dual verbatim.
    */
  def dd9ContaminationBloom(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.contaminationScoresBloom(
      docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(97)) === 0),
      "doc_id", "text", k = 3)
      .filter(col("n_hits") > 0)
  }

  /** [[dd8Contamination]] through the auto-dispatcher
    * ([[Dedup.contaminationScoresAuto]]): the gate-scale eval slice
    * sits under the broadcast cap, so this exercises the
    * estimate-then-choose plumbing on the broadcast branch (DedupSpec
    * proves the over-cap branch flips to bloom and stays
    * row-identical). Shares dd8's DuckDB dual verbatim.
    */
  def dd11ContaminationAuto(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.contaminationScoresAuto(
      docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(97)) === 0),
      "doc_id", "text", k = 3)
      .filter(col("n_hits") > 0)
  }

  /** Exact shared-span detection ([[Dedup.sharedSpanPairs]]): doc
    * pairs sharing verbatim 8-token spans, with the distinct-span
    * count — substring-level duplication that whole-doc similarity
    * misses. Word spans are plain strings in both engines, so the
    * dual is exact.
    */
  def dd12SpanDup(s: SparkSession, d: String): DataFrame =
    Dedup.sharedSpanPairs(Tables.documents(s, d), "doc_id", "text", k = 8)

  /** Duplicate-span REMOVAL ([[Dedup.spanExciseClean]]): the cleanup
    * face of dd12 — every repeated verbatim 8-word span excised from
    * all but its global-first occurrence, documents reassembled from
    * the surviving words. Word spans and the keep rule are plain
    * deterministic strings/orderings in both engines, so the dual is
    * exact (clean text compared verbatim).
    */
  def dd27SpanExcise(s: SparkSession, d: String): DataFrame =
    Dedup.spanExciseClean(Tables.documents(s, d), "doc_id", "text", k = 8)
      .withColumnRenamed("id", "doc_id")

  /** Fuzzy decontamination ([[Dedup.minhashJoin]]): eval docs (every
    * 5th) matched against the corpus by MinHash+LSH
    * near-duplicate similarity — catches paraphrased benchmark leakage
    * that shares few exact k-grams. No DuckDB dual (minhash); DedupSpec
    * proves equality with the union self-join restricted to cross
    * pairs and that planted paraphrases are caught.
    */
  def dd10FuzzyContamination(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // mod 5 (not dd8's 97): the synthetic corpus plants near-dup
    // twins at id distances that never straddle a 1-in-97 slice, so a
    // 97 split has zero cross pairs and the query would prove nothing
    Dedup.minhashJoin(
      docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(5)) === 0),
      "doc_id", "text", threshold = 0.5)
  }

  /** Exact similarity self-join (prefix filtering, AllPairs/PPJoin
    * family): ALL pairs with trigram-set Jaccard >= 0.8 — guaranteed
    * recall from the prefix-filter bound, verified pair-exactly
    * against DuckDB's brute-force Jaccard over the same grams.
    */
  def dd7ExactJaccard(s: SparkSession, d: String): DataFrame =
    // jaccard rides through unrounded: both engines divide the same
    // exact ints, so the IEEE doubles are bit-identical. Served from
    // the shared [[TruthSets]] materialization (dd6/dd15/dd16/dd19
    // consume the identical pair set).
    TruthSets.exactJaccardPairs(s, d, threshold = 0.8)

  // ---- SQL surface: injected native functions (SURVEY §2.11) --------

  /** Runs entirely through spark.sql against the registered function
    * surface (GraftExtensions) — the dataset-published-function replay
    * path, exercised as SQL text like the reference's consumers would.
    */
  /** Text/dedup kernels exercised as PURE SQL through the registered
    * function surface (the other half of the §2.11 replay path —
    * n-gram set size and NFC check have exact DuckDB duals).
    */
  def x2SqlTextops(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftExtensions.register(s)
    Tables.documents(s, d).createOrReplaceTempView("documents")
    s.sql(
      """SELECT doc_id,
                normalize_unicode(text, 'NFC') = text AS already_nfc,
                size(char_ngram_set(lower(text), 3)) AS n_trigrams
         FROM documents""")
  }

  /** The native Generator (UDTF) exercised as pure SQL through
    * LATERAL VIEW — the table-valued half of the §2.11 published-
    * function surface. Frame arithmetic is pure byte math, so DuckDB
    * can oracle the full fan-out shape.
    */
  def x3SqlFrames(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftExtensions.register(s)
    Tables.documents(s, d).createOrReplaceTempView("documents")
    s.sql(
      """SELECT doc_id, f.frame_idx, length(f.frame) AS frame_bytes
         FROM (SELECT doc_id, cast(text AS BINARY) AS payload
               FROM documents)
         LATERAL VIEW split_frames(payload, 128, 3) f AS frame_idx, frame""")
  }

  def x1SqlCosine(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftExtensions.register(s)
    Tables.embeddings(s, d).createOrReplaceTempView("embeddings")
    s.sql(
      """SELECT vec_id,
                round(cosine_sim(embedding,
                  (SELECT embedding FROM embeddings WHERE vec_id = 0)), 4) AS sim4
         FROM embeddings WHERE vec_id <> 0
         ORDER BY sim4 DESC, vec_id LIMIT 5""")
  }

  // ---- event-time windows (streaming duals) -------------------------

  def e2Sliding(s: SparkSession, d: String): DataFrame =
    EventStreams.slidingCounts(Tables.events(s, d))

  /** Click->purchase attribution: the batch face of the stream-stream
    * interval join (same definition runs watermarked in
    * EventStreams.streamingAttribution; StreamingSpec proves parity).
    */
  def e4IntervalJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    EventStreams.clickPurchaseJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"))
      .groupBy(col("click_id"))
      .agg(count(lit(1)).as("n_buys"),
        sum(col("buy_value").cast("decimal(18,2)")).cast("double").as("buy_total"))
  }

  def e3Session(s: SparkSession, d: String): DataFrame =
    EventStreams.sessionCounts(Tables.events(s, d))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t1_tokens" -> (t1Tokens _),
    "t2_quality" -> (t2Quality _),
    "t3_langid" -> (t3LangId _),
    "t4_fingerprint" -> (t4Fingerprint _),
    "t5_redact" -> (t5Redact _),
    "t6_repetition" -> (t6Repetition _),
    "t16_top_ngram_frac" -> (t16TopNgramFrac _),
    "t17_dup_ngram_frac" -> (t17DupNgramFrac _),
    "t7_nfc" -> (t7Nfc _),
    "t8_wordcount" -> (t8Wordcount _),
    "t9_tfidf" -> (t9Tfidf _),
    "dd1_exact" -> (dd1Exact _),
    "dd2_minhash_pairs" -> (dd2MinhashPairs _),
    "dd3_simhash_pairs" -> (dd3SimhashPairs _),
    "dd4_ngram_pairs" -> (dd4NgramPairs _),
    "dd5_embedding_neardup" -> (dd5EmbeddingNearDup _),
    "dd16_ngram_containment" -> (dd16NgramContainment _),
    "dd18_multiset_contamination" -> (dd18MultisetContamination _),
    "dd17_embedding_containment" -> (dd17EmbeddingContainment _),
    "dd19_simhash_containment" -> (dd19SimhashContainment _),
    "dd22_fuzzy_containment" -> (dd22FuzzyContainment _),
    "ann1_bruteforce" -> (ann1BruteForce _),
    "ann7_recall_audit" -> (ann7RecallAudit _),
    "ann2_lsh" -> (ann2Lsh _),
    "ann3_ivf" -> (ann3Ivf _),
    "ann4_batch" -> (ann4Batch _),
    "ann5_radius" -> (ann5RadiusSearch _),
    "ann6_pq" -> (ann6Pq _),
    "vq1_quant_int8" -> (vq1QuantInt8 _),
    "vq2_sign_pack" -> (vq2SignPack _),
    "hm1_hamming_topk" -> (hm1HammingTopK _),
    "km1_assign_q" -> (km1AssignQ _),
    "km2_lloyd_q" -> (km2LloydQ _),
    "sem1_semdedup_q" -> (sem1SemdedupQ _),
    "spl1_hash_split" -> (spl1HashSplit _),
    "spl2_stratified_split" -> (spl2StratifiedSplit _),
    "hm2_hamming_radius" -> (hm2HammingRadius _),
    "t12_bigram_cond" -> (t12BigramCond _),
    "bpe1_train_merges" -> (bpe1TrainMerges _),
    "bpe2_apply_counts" -> (bpe2ApplyCounts _),
    "cdc1_content_chunks" -> (cdc1ContentChunks _),
    "cap1_source_cap" -> (cap1SourceCap _),
    "pipe3_curation" -> (pipe3Curation _),
    "nov1_ngram_novelty" -> (nov1NgramNovelty _),
    "iv1_inverted_index" -> (iv1InvertedIndex _),
    "t13_bm25" -> (t13Bm25 _),
    "ed1_spelling_pairs" -> (ed1SpellingPairs _),
    "ts1_gapfill" -> (ts1GapFill _),
    "t14_bigram_logprob" -> (t14BigramLogprob _),
    "mix2_budget_sample" -> (mix2BudgetSample _),
    "rp1_random_projection" -> (rp1RandomProjection _),
    "g2_pagerank" -> (g2Pagerank _),
    "mm1_decode_stub" -> (mm1DecodeStub _),
    "mm2_frame_sample" -> (mm2FrameSample _),
    "mm3_image_dhash_neardup" -> (mm3ImageDhashNeardup _),
    "mm4_audio_neardup" -> (mm4AudioNeardup _),
    "mm5_video_neardup" -> (mm5VideoNeardup _),
    "mm6_crossmodal_neardup" -> (mm6CrossModalNeardup _),
    "x1_sql_cosine" -> (x1SqlCosine _),
    "x2_sql_textops" -> (x2SqlTextops _),
    "x3_sql_frames" -> (x3SqlFrames _),
    "asof1_backward" -> (asof1Backward _),
    "asof2_forward" -> (asof2Forward _),
    "asof3_nearest" -> (asof3Nearest _),
    "asof4_backward_chunked" -> (asof4BackwardChunked _),
    "asof5_nearest_chunked" -> (asof5NearestChunked _),
    "asof9_exec_tolerance" -> (asof9ExecTolerance _),
    "asof10_exec_multikey" -> (asof10ExecMultikey _),
    "asof12_auto" -> (asof12Auto _),
    "pipe1_corpus_clean" -> ((s, d) => pipe1CorpusClean(s, d)),
    "pipe2_training_prep" -> ((s, d) => pipe2TrainingPrep(s, d)),
    "pipe5_tiered_prep" -> ((s, d) => pipe5TieredPrep(s, d)),
    "pipe6_auto_prep" -> (pipe6AutoPrep _),
    "g1_components" -> (g1Components _),
    "dd6_cluster_keep" -> (dd6ClusterKeep _),
    "dd7_exact_jaccard" -> (dd7ExactJaccard _),
    "dd8_contamination" -> (dd8Contamination _),
    "dd9_contamination_bloom" -> (dd9ContaminationBloom _),
    "dd10_fuzzy_contamination" -> (dd10FuzzyContamination _),
    "dd11_contamination_auto" -> (dd11ContaminationAuto _),
    "dd12_span_dup" -> (dd12SpanDup _),
    "dd27_span_excise" -> (dd27SpanExcise _),
    "pk1_sequence_pack" -> (pk1SequencePack _),
    "pk2_chunk_overlap" -> (pk2ChunkOverlap _),
    "pk3_bucket_pack" -> (pk3BucketPack _),
    "t10_unigram_logprob" -> (t10UnigramLogprob _),
    "t11_mix_report" -> (t11MixReport _),
    "smp1_stratified" -> (smp1Stratified _),
    "smp2_sample_k" -> (smp2SampleK _),
    "smp3_weighted_k" -> (smp3WeightedK _),
    "shuf1_training_order" -> (shuf1TrainingOrder _),
    "z1_zorder_key" -> (z1ZorderKey _),
    "e2_sliding" -> (e2Sliding _),
    "e3_session" -> (e3Session _),
    "e4_interval_join" -> (e4IntervalJoin _))

  private val asofNearestOracle: String =
    """WITH r AS (
         SELECT user_id, ts, signup_value FROM (
           SELECT user_id, ts, value AS signup_value,
                  row_number() OVER (PARTITION BY user_id, ts
                    ORDER BY value DESC) AS rn
           FROM events WHERE event_type = 'signup')
         WHERE rn = 1),
       b AS (SELECT l.event_id, r.signup_value AS bv, r.ts AS bts
             FROM events l ASOF LEFT JOIN r
               ON l.user_id = r.user_id AND l.ts >= r.ts),
       f AS (SELECT l.event_id, r.signup_value AS fv, r.ts AS fts
             FROM events l ASOF LEFT JOIN r
               ON l.user_id = r.user_id AND l.ts <= r.ts)
       SELECT e.event_id, e.ts, e.user_id, e.event_type,
              CASE WHEN bts IS NULL THEN fv
                   WHEN fts IS NULL THEN bv
                   WHEN e.ts - bts <= fts - e.ts THEN bv
                   ELSE fv END AS signup_value
       FROM events e JOIN b USING (event_id) JOIN f USING (event_id)"""

  private val asofBackwardOracle: String =
    """WITH r AS (
         SELECT user_id, ts, signup_value FROM (
           SELECT user_id, ts, value AS signup_value,
                  row_number() OVER (PARTITION BY user_id, ts
                    ORDER BY value DESC) AS rn
           FROM events WHERE event_type = 'signup')
         WHERE rn = 1)
       SELECT l.event_id, l.ts, l.user_id, l.event_type, r.signup_value
       FROM events l ASOF LEFT JOIN r
         ON l.user_id = r.user_id AND l.ts >= r.ts"""

  private val asofForwardOracle: String =
    """WITH r AS (
         SELECT user_id, ts, signup_value FROM (
           SELECT user_id, ts, value AS signup_value,
                  row_number() OVER (PARTITION BY user_id, ts
                    ORDER BY value DESC) AS rn
           FROM events WHERE event_type = 'signup')
         WHERE rn = 1)
       SELECT l.event_id, l.ts, l.user_id, l.event_type, r.signup_value
       FROM events l ASOF LEFT JOIN r
         ON l.user_id = r.user_id AND l.ts <= r.ts"""

  private val contaminationOracle: String =
    """WITH tok AS (SELECT doc_id,
                 regexp_split_to_array(lower(trim(text)), '\s+') AS ts
               FROM documents),
         sh AS (SELECT doc_id, CASE WHEN len(ts) >= 3
                 THEN list_transform(range(1, len(ts) - 1),
                        i -> array_to_string(
                               ts[CAST(i AS INT):CAST(i + 2 AS INT)], ' '))
                 ELSE [array_to_string(ts, ' ')] END AS shs
               FROM tok),
         g AS (SELECT DISTINCT doc_id, unnest(shs) AS gram FROM sh),
         ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
         corp AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0),
         tot AS (SELECT doc_id, count(*) AS n_grams FROM corp GROUP BY doc_id),
         hit AS (SELECT doc_id, count(*) AS n_hits FROM corp
                 WHERE gram IN (SELECT gram FROM ev) GROUP BY doc_id)
         SELECT t.doc_id, t.n_grams, h.n_hits,
                CAST(h.n_hits AS DOUBLE) / t.n_grams AS contamination
         FROM tot t JOIN hit h ON t.doc_id = h.doc_id
         WHERE h.n_hits > 0"""

  /** DuckDB dual of [[graft.text.Bpe.train]]'s iteration, unrolled:
    * v0 = the vocab, then per step k a pair-count (lead window), the
    * 1-row argmax m_k, and v_{k+1} applying the merge with the same
    * left-to-right non-overlapping fold (list_reduce with a string
    * accumulator; the space separator is structural, see Bpe.scala).
    */
  private def bpeCtes(nMerges: Int): String = {
    val sb = new StringBuilder
    sb ++=
      """v0 AS (SELECT word, CAST(count(*) AS BIGINT) AS freq,
             array_to_string(regexp_extract_all(word, '.'), ' ') AS syms
           FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)),
                   '\s+')) AS word FROM documents)
           WHERE word <> '' GROUP BY word)"""
    for (k <- 0 until nMerges) {
      sb ++= s""",
        pc$k AS (SELECT a, b, CAST(sum(freq) AS BIGINT) AS w FROM (
             SELECT freq, s AS a,
                    lead(s) OVER (PARTITION BY word ORDER BY i) AS b
             FROM (SELECT word, freq,
                     unnest(string_split(syms, ' ')) AS s,
                     generate_subscripts(string_split(syms, ' '), 1) AS i
                   FROM v$k))
           WHERE b IS NOT NULL GROUP BY a, b),
        m$k AS (SELECT a, b, w FROM pc$k ORDER BY w DESC, a, b LIMIT 1),
        v${k + 1} AS (SELECT word, freq,
             list_reduce(string_split(v$k.syms, ' '), (acc, x) ->
               CASE WHEN x = m.b AND (acc = m.a OR
                         right(acc, length(m.a) + 1) = ' ' || m.a)
                    THEN CASE WHEN acc = m.a THEN m.a || m.b
                         ELSE left(acc, length(acc) - length(m.a) - 1)
                              || ' ' || m.a || m.b END
                    ELSE acc || ' ' || x END) AS syms
           FROM v$k, m$k m)"""
    }
    sb.toString
  }

  /** Unrolled PageRank dual: the same `iters` damped iterations as
    * [[graft.graph.PageRank.run]], one CTE pair (contribution agg +
    * dangling sum) per iteration, with the identical round-to-12 /
    * DECIMAL(28,12)-sum discipline — so the fixpoint matches Spark's
    * to the last bit.
    */
  private def pagerankOracle(iters: Int): String = {
    // every iteration CTE is MATERIALIZED: pr{k-1} is referenced twice
    // (contribution join + dangling sum) and edges/base once per
    // iteration — inlined, the expansion doubles per round (2^iters
    // copies of the whole prefix), which at sf0.1 spilled >70 GB of
    // DuckDB temp before failing; materialized, each round is one
    // O(edges) join like the Spark side (whose localCheckpoint serves
    // the same purpose — the identical blow-up in plan form).
    val header =
      """WITH edges AS MATERIALIZED (
           SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         nodes AS (SELECT DISTINCT node FROM (
           SELECT src AS node FROM edges
           UNION ALL SELECT dst FROM edges)),
         odeg AS (SELECT src AS node, count(*) AS outdeg
                  FROM edges GROUP BY 1),
         nn AS (SELECT count(*) AS n FROM nodes),
         base AS MATERIALIZED (SELECT nodes.node, odeg.outdeg
                  FROM nodes LEFT JOIN odeg USING (node)),
         pr0 AS MATERIALIZED (
           SELECT node, outdeg, 1.0 / n AS pr FROM base, nn)"""
    val its = (1 to iters).map { k =>
      s""",
         c$k AS (
           SELECT e.dst AS node,
                  CAST(sum(CAST(round(p.pr / p.outdeg, 12)
                    AS DECIMAL(28,12))) AS DOUBLE) AS contrib
           FROM pr${k - 1} p JOIN edges e ON p.node = e.src GROUP BY 1),
         d$k AS (
           SELECT coalesce(CAST(sum(CAST(round(pr, 12)
                    AS DECIMAL(28,12))) AS DOUBLE), 0.0) AS dang
           FROM pr${k - 1} WHERE outdeg IS NULL),
         pr$k AS MATERIALIZED (
           SELECT b.node, b.outdeg,
                  round(0.15 / n + 0.85 *
                    (coalesce(c.contrib, 0.0) + d.dang / n), 12) AS pr
           FROM base b LEFT JOIN c$k c ON b.node = c.node, d$k d, nn)"""
    }.mkString
    s"$header$its\n         SELECT node, pr FROM pr$iters"
  }

  private val pipe2OracleSql =
    """WITH corpus AS (SELECT doc_id, text FROM documents
               WHERE doc_id % 97 <> 0),
         tokc AS (SELECT doc_id,
                 regexp_split_to_array(lower(trim(text)), '\s+') AS ts
               FROM corpus),
         shc AS (SELECT doc_id, CASE WHEN len(ts) >= 3
                 THEN list_transform(range(1, len(ts) - 1),
                        i -> array_to_string(
                               ts[CAST(i AS INT):CAST(i + 2 AS INT)], ' '))
                 ELSE [array_to_string(ts, ' ')] END AS shs
               FROM tokc),
         gc AS (SELECT DISTINCT doc_id, unnest(shs) AS gram FROM shc),
         toke AS (SELECT doc_id,
                 regexp_split_to_array(lower(trim(text)), '\s+') AS ts
               FROM documents WHERE doc_id % 97 = 0),
         she AS (SELECT doc_id, CASE WHEN len(ts) >= 3
                 THEN list_transform(range(1, len(ts) - 1),
                        i -> array_to_string(
                               ts[CAST(i AS INT):CAST(i + 2 AS INT)], ' '))
                 ELSE [array_to_string(ts, ' ')] END AS shs
               FROM toke),
         ev AS (SELECT DISTINCT unnest(shs) AS gram FROM she),
         tot AS (SELECT doc_id, count(*) AS n_grams FROM gc GROUP BY doc_id),
         hit AS (SELECT doc_id, count(*) AS n_hits FROM gc
                 WHERE gram IN (SELECT gram FROM ev) GROUP BY doc_id),
         dirty AS (SELECT t.doc_id FROM tot t JOIN hit h USING (doc_id)
                   WHERE CAST(h.n_hits AS DOUBLE) / t.n_grams > 0.2),
         clean AS (SELECT * FROM corpus
                   WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
         t2 AS (SELECT doc_id, lower(trim(text)) AS s FROM clean),
         g2 AS (SELECT DISTINCT doc_id, unnest(
                 CASE WHEN length(s) >= 3
                      THEN list_transform(range(1, length(s) - 1),
                                          i -> substr(s, CAST(i AS INT), 3))
                      ELSE [s] END) AS gram
               FROM t2),
         gs AS (SELECT doc_id, count(*) AS sz FROM g2 GROUP BY doc_id),
         ix AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS o
                FROM g2 a JOIN g2 b ON a.gram = b.gram AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         removed AS (SELECT DISTINCT id_b
                     FROM ix JOIN gs sa ON sa.doc_id = ix.id_a
                             JOIN gs sb ON sb.doc_id = ix.id_b
                     WHERE CAST(o AS DOUBLE) / (sa.sz + sb.sz - o) >= 0.8),
         kept AS (SELECT * FROM clean
                  WHERE doc_id NOT IN (SELECT id_b FROM removed)),
         tok3 AS (SELECT doc_id,
                 regexp_split_to_array(trim(text), '\s+') AS ts
               FROM kept),
         meta AS (SELECT doc_id, len(ts) AS n,
                 CAST(CASE WHEN len(ts) <= 16 THEN 1
                      ELSE 1 + (len(ts) - 5) // 12 END AS BIGINT)
                   AS n_chunks
               FROM tok3),
         ch AS (SELECT doc_id, n,
                 unnest(range(0, n_chunks)) AS chunk_id
               FROM meta),
         units AS (SELECT doc_id * 1048576 + chunk_id AS cid,
                 CAST(least(16, n - chunk_id * 12) AS BIGINT) AS len
               FROM ch),
         pre AS (SELECT cid, len,
                 CAST(COALESCE(SUM(len) OVER (ORDER BY cid
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS start
               FROM units)
         SELECT cid, len, start,
                start // 512 AS seq_id,
                start % 512 AS seq_offset
         FROM pre"""

  private val pipe5OracleSql =
    """WITH corpus AS (SELECT doc_id, text FROM documents
               WHERE doc_id % 97 <> 0),
         tokc AS (SELECT doc_id,
                 regexp_split_to_array(lower(trim(text)), '\s+') AS ts
               FROM corpus),
         shc AS (SELECT doc_id, CASE WHEN len(ts) >= 3
                 THEN list_transform(range(1, len(ts) - 1),
                        i -> array_to_string(
                               ts[CAST(i AS INT):CAST(i + 2 AS INT)], ' '))
                 ELSE [array_to_string(ts, ' ')] END AS shs
               FROM tokc),
         gc AS (SELECT DISTINCT doc_id, unnest(shs) AS gram FROM shc),
         toke AS (SELECT doc_id,
                 regexp_split_to_array(lower(trim(text)), '\s+') AS ts
               FROM documents WHERE doc_id % 97 = 0),
         she AS (SELECT doc_id, CASE WHEN len(ts) >= 3
                 THEN list_transform(range(1, len(ts) - 1),
                        i -> array_to_string(
                               ts[CAST(i AS INT):CAST(i + 2 AS INT)], ' '))
                 ELSE [array_to_string(ts, ' ')] END AS shs
               FROM toke),
         ev AS (SELECT DISTINCT unnest(shs) AS gram FROM she),
         tot AS (SELECT doc_id, count(*) AS n_grams FROM gc GROUP BY doc_id),
         hit AS (SELECT doc_id, count(*) AS n_hits FROM gc
                 WHERE gram IN (SELECT gram FROM ev) GROUP BY doc_id),
         dirty AS (SELECT t.doc_id FROM tot t JOIN hit h USING (doc_id)
                   WHERE CAST(h.n_hits AS DOUBLE) / t.n_grams > 0.2),
         clean AS MATERIALIZED (SELECT * FROM corpus
                   WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
         s5 AS (SELECT doc_id, lower(trim(text)) AS s FROM clean),
         b5 AS (SELECT doc_id, s, CAST(length(s) - 7 AS INT) AS g
               FROM s5 WHERE length(s) - 7 >= 4),
         k5 AS (SELECT doc_id, g,
                 list_transform(range(1, g + 1),
                   p -> md5(substr(s, CAST(p AS INT), 8)) ||
                        lpad(CAST(100000000 - p AS VARCHAR), 8, '0')) AS keys
               FROM b5),
         sel5 AS (SELECT doc_id,
                   list_distinct(list_transform(range(1, g - 2),
                     ws -> list_min(keys[ws:ws+3]))) AS sel
                 FROM k5),
         dh5 AS MATERIALIZED (
           SELECT DISTINCT doc_id, substr(key, 1, 32) AS h
           FROM (SELECT doc_id, unnest(sel) AS key FROM sel5)),
         f5 AS (SELECT h, count(*) AS df FROM dh5 GROUP BY h),
         kh AS MATERIALIZED (
           SELECT dh5.doc_id, dh5.h FROM dh5 JOIN f5 USING (h)
           WHERE f5.df <= 16),
         cands AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM kh a JOIN kh b
             ON a.h = b.h AND a.doc_id < b.doc_id),
         t2 AS (SELECT doc_id, lower(trim(text)) AS s FROM clean),
         g2 AS MATERIALIZED (
           SELECT DISTINCT doc_id, unnest(
                 CASE WHEN length(s) >= 3
                      THEN list_transform(range(1, length(s) - 1),
                                          i -> substr(s, CAST(i AS INT), 3))
                      ELSE [s] END) AS gram
               FROM t2),
         gs AS (SELECT doc_id, count(*) AS sz FROM g2 GROUP BY doc_id),
         ix AS (SELECT c.id_a, c.id_b, count(*) AS o
                FROM cands c
                JOIN g2 a ON a.doc_id = c.id_a
                JOIN g2 b ON b.doc_id = c.id_b AND b.gram = a.gram
                GROUP BY 1, 2),
         removed AS (SELECT DISTINCT id_b
                     FROM ix JOIN gs sa ON sa.doc_id = ix.id_a
                             JOIN gs sb ON sb.doc_id = ix.id_b
                     WHERE CAST(o AS DOUBLE) / (sa.sz + sb.sz - o) >= 0.8),
         kept AS (SELECT * FROM clean
                  WHERE doc_id NOT IN (SELECT id_b FROM removed)),
         tok3 AS (SELECT doc_id,
                 regexp_split_to_array(trim(text), '\s+') AS ts
               FROM kept),
         meta AS (SELECT doc_id, len(ts) AS n,
                 CAST(CASE WHEN len(ts) <= 16 THEN 1
                      ELSE 1 + (len(ts) - 5) // 12 END AS BIGINT)
                   AS n_chunks
               FROM tok3),
         ch AS (SELECT doc_id, n,
                 unnest(range(0, n_chunks)) AS chunk_id
               FROM meta),
         units AS (SELECT doc_id * 1048576 + chunk_id AS cid,
                 CAST(least(16, n - chunk_id * 12) AS BIGINT) AS len
               FROM ch),
         pre AS (SELECT cid, len,
                 CAST(COALESCE(SUM(len) OVER (ORDER BY cid
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS start
               FROM units)
         SELECT cid, len, start,
                start // 512 AS seq_id,
                start % 512 AS seq_offset
         FROM pre"""

  /** pipe6's oracle: the SAME dispatch statistic dd25 replays (exact
    * trigram Sum C(df,2) over the documents table) gating the full
    * pipe2 and pipe5 duals as subqueries — DuckDB independently picks
    * AND computes whichever composition the Spark dispatcher picked
    * at this scale.
    *
    * The gate is pushed into each dual's CORPUS input (not just a
    * row filter over its output): a scalar WHERE on the outer SELECT
    * does not stop DuckDB from evaluating the dead dual's CTE chain,
    * and at sf0.1 the un-picked pipe2 dual's exact all-pairs join
    * spilled >79 GB of temp before failing the whole check. With the
    * input gated, the dead branch's pipeline runs over ZERO corpus
    * rows (its eval-side CTEs stay trivially small) while the picked
    * branch's corpus predicate is identically true — so the emitted
    * rows are unchanged and the dispatch is still replayed in-engine.
    */
  private def estGated(dual: String, pred: String): String = {
    val anchor = "WHERE doc_id % 97 <> 0)"
    require(dual.contains(anchor), "pipe6 oracle: corpus anchor missing")
    dual.replace(anchor, s"WHERE doc_id % 97 <> 0 AND $pred)")
  }

  private val pipe6OracleSql =
    s"""WITH est_t AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
       est_g AS MATERIALIZED (SELECT DISTINCT doc_id, unnest(
                   CASE WHEN length(s) >= 3
                        THEN list_transform(range(1, length(s) - 1),
                                            i -> substr(s, CAST(i AS INT), 3))
                        ELSE [s] END) AS gram
                 FROM est_t),
       est AS MATERIALIZED (
               SELECT COALESCE(CAST(LEAST(
                   sum(CAST(df AS HUGEINT) * (df - 1) // 2),
                   CAST(9223372036854775807 AS HUGEINT)) AS BIGINT), 0)
                 AS est
               FROM (SELECT count(*) AS df FROM est_g GROUP BY gram))
       SELECT * FROM (${estGated(pipe2OracleSql,
        "(SELECT est FROM est) <= 100000000")})
       WHERE (SELECT est FROM est) <= 100000000
       UNION ALL
       SELECT * FROM (${estGated(pipe5OracleSql,
        "(SELECT est FROM est) > 100000000")})
       WHERE (SELECT est FROM est) > 100000000"""

  /** First 4 hex digits of an md5 as an int (geo3's portable-hash
    * trick — Geo.scala keeps its own copy; duplicated rather than
    * shared so each oracle stays a self-contained SQL text).
    */
  private def mm3Hex4(m: String): String =
    s"""((strpos('0123456789abcdef', substr($m, 1, 1)) - 1) * 4096 +
        (strpos('0123456789abcdef', substr($m, 2, 1)) - 1) * 256 +
        (strpos('0123456789abcdef', substr($m, 3, 1)) - 1) * 16 +
        (strpos('0123456789abcdef', substr($m, 4, 1)) - 1))"""

  private val mm3Oracle: String = {
    val h = mm3Hex4(
      "md5(CAST(base AS VARCHAR) || '#px#' || CAST(i AS VARCHAR))")
    s"""WITH ids AS (
         SELECT doc_id AS id,
                CASE WHEN doc_id % 7 = 3 AND doc_id > 0 THEN doc_id - 1
                     ELSE doc_id END AS base,
                (doc_id % 7 = 3 AND doc_id > 0) AS tw
         FROM documents),
       px AS MATERIALIZED (
         SELECT id, base, tw, unnest(range(0, 288)) AS i FROM ids),
       pv AS MATERIALIZED (
         SELECT id, i,
                CASE WHEN tw AND i % 7 = 0 AND i < 72
                     THEN ($h % 256 + 73) % 256
                     ELSE $h % 256 END AS p
         FROM px),
       bs AS MATERIALIZED (
         SELECT id, (i // 18) // 2 AS r, (i % 18) // 2 AS c,
                CAST(sum(p) AS BIGINT) AS s
         FROM pv GROUP BY 1, 2, 3),
       bits AS MATERIALIZED (
         SELECT a.id, a.r, a.c,
                CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
         FROM bs a JOIN bs b ON a.id = b.id AND a.r = b.r
           AND b.c = a.c + 1
         WHERE a.c < 8),
       bands AS MATERIALIZED (
         SELECT id, r // 2 AS band,
                CAST(sum(bit * (1 << ((r % 2) * 8 + c))) AS INT) AS v
         FROM bits GROUP BY 1, 2),
       cand AS (
         SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.v = b.v AND a.id < b.id),
       wide AS MATERIALIZED (
         SELECT id,
                max(v) FILTER (band = 0) AS b0,
                max(v) FILTER (band = 1) AS b1,
                max(v) FILTER (band = 2) AS b2,
                max(v) FILTER (band = 3) AS b3
         FROM bands GROUP BY id)
       SELECT id_a, id_b,
              CAST(bit_count(xor(wa.b0, wb.b0)) +
                   bit_count(xor(wa.b1, wb.b1)) +
                   bit_count(xor(wa.b2, wb.b2)) +
                   bit_count(xor(wa.b3, wb.b3)) AS INT) AS hamming
       FROM cand JOIN wide wa ON cand.id_a = wa.id
                 JOIN wide wb ON cand.id_b = wb.id
       WHERE bit_count(xor(wa.b0, wb.b0)) + bit_count(xor(wa.b1, wb.b1)) +
             bit_count(xor(wa.b2, wb.b2)) + bit_count(xor(wa.b3, wb.b3))
               <= 10"""
  }

  /** mm4's dual replays the fingerprint from the sample FORMULA (no
    * codec): samples → per-pair Haar sums → window energies → delta
    * bits → bands → band-bucket join → Hamming. All integer
    * arithmetic, so agreement with the Spark side (which went through
    * a real WAV encode/decode) proves the codec roundtrip
    * sample-exact.
    */
  private val mm4Oracle: String = {
    def h(tag: String) = mm3Hex4(
      s"md5(CAST(b AS VARCHAR) || '$tag' || CAST(j AS VARCHAR))")
    s"""WITH ids AS (
         SELECT doc_id AS id,
                CASE WHEN doc_id % 11 = 5 AND doc_id > 0 THEN doc_id - 1
                     ELSE doc_id END AS b,
                (doc_id % 11 = 5 AND doc_id > 0) AS tw
         FROM documents),
       sj AS MATERIALIZED (
         SELECT id, b, tw, unnest(range(0, 528)) AS j FROM ids),
       sv AS MATERIALIZED (
         SELECT id, j,
                CASE WHEN tw AND j < 80 AND j % 5 = 0
                     THEN ${h("#tw#")} % 4096 - 2048
                     ELSE ${h("#au#")} % 4096 - 2048 END AS s
         FROM sj),
       pw AS MATERIALIZED (
         SELECT id, j // 16 AS w, (j % 16) // 2 AS pr,
                CAST(sum(s) AS BIGINT) AS psum,
                CAST(sum(CASE WHEN j % 2 = 0 THEN s ELSE -s END)
                     AS BIGINT) AS pdiff
         FROM sv GROUP BY 1, 2, 3),
       en AS MATERIALIZED (
         SELECT id, w,
                CAST(sum(psum * psum) AS BIGINT) AS lo,
                CAST(sum(pdiff * pdiff) AS BIGINT) AS hi
         FROM pw GROUP BY 1, 2),
       bits AS MATERIALIZED (
         SELECT a.id, a.w,
                CASE WHEN a.lo > nx.lo THEN 1 ELSE 0 END AS bl,
                CASE WHEN a.hi > nx.hi THEN 1 ELSE 0 END AS bh
         FROM en a JOIN en nx ON a.id = nx.id AND nx.w = a.w + 1
         WHERE a.w < 32),
       bands AS MATERIALIZED (
         SELECT id, (2 * w) // 16 AS band,
                CAST(sum(bl * (1 << ((2 * w) % 16)) +
                         bh * (1 << ((2 * w + 1) % 16))) AS INT) AS v
         FROM bits GROUP BY 1, 2),
       cand AS (
         SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.v = b.v AND a.id < b.id),
       wide AS MATERIALIZED (
         SELECT id,
                max(v) FILTER (band = 0) AS b0,
                max(v) FILTER (band = 1) AS b1,
                max(v) FILTER (band = 2) AS b2,
                max(v) FILTER (band = 3) AS b3
         FROM bands GROUP BY id)
       SELECT id_a, id_b,
              CAST(bit_count(xor(wa.b0, wb.b0)) +
                   bit_count(xor(wa.b1, wb.b1)) +
                   bit_count(xor(wa.b2, wb.b2)) +
                   bit_count(xor(wa.b3, wb.b3)) AS INT) AS hamming
       FROM cand JOIN wide wa ON cand.id_a = wa.id
                 JOIN wide wb ON cand.id_b = wb.id
       WHERE bit_count(xor(wa.b0, wb.b0)) + bit_count(xor(wa.b1, wb.b1)) +
             bit_count(xor(wa.b2, wb.b2)) + bit_count(xor(wa.b3, wb.b3))
               <= 10"""
  }

  /** mm5's dual replays SAMPLED frame canvases from the closed-form
    * pixel formula (no codec) — bits → bands → frame-aligned band
    * join → per-frame Hamming → all-frames gate. Agreement with the
    * Spark side, which reconstructed those canvases by folding a real
    * RLE8 delta stream, proves the temporal encode/decode cycle
    * pixel-exact.
    */
  private val mm5Oracle: String = {
    def h(tag: String, framed: Boolean) = mm3Hex4(
      if (framed)
        s"md5(CAST(b AS VARCHAR) || '$tag' || CAST(i AS VARCHAR) || " +
          "'#' || CAST(k AS VARCHAR))"
      else s"md5(CAST(b AS VARCHAR) || '$tag' || CAST(i AS VARCHAR))")
    s"""WITH ids AS (
         SELECT doc_id AS id,
                CASE WHEN doc_id % 13 = 7 AND doc_id > 0 THEN doc_id - 1
                     ELSE doc_id END AS b,
                (doc_id % 13 = 7 AND doc_id > 0) AS tw
         FROM documents),
       fx AS MATERIALIZED (
         SELECT id, b, tw, unnest([0, 2, 4]) AS k FROM ids),
       px AS MATERIALIZED (
         SELECT id, k, b, tw, unnest(range(0, 72)) AS i FROM fx),
       pv AS MATERIALIZED (
         SELECT id, k, i,
                CASE WHEN tw AND i < 18 AND i % 4 = 0
                     THEN ${h("#tw#", framed = true)} % 256
                     WHEN i % 23 = (5 * k) % 23
                     THEN ${h("#vd#", framed = true)} % 256
                     ELSE ${h("#v0#", framed = false)} % 256 END AS p
         FROM px),
       bits AS MATERIALIZED (
         SELECT a.id, a.k, a.i // 9 AS r, a.i % 9 AS c,
                CASE WHEN a.p > nx.p THEN 1 ELSE 0 END AS bit
         FROM pv a JOIN pv nx
           ON a.id = nx.id AND a.k = nx.k AND nx.i = a.i + 1
         WHERE a.i % 9 < 8),
       bands AS MATERIALIZED (
         SELECT id, k, (r * 8 + c) // 16 AS band,
                CAST(sum(bit * (1 << ((r * 8 + c) % 16))) AS INT) AS v
         FROM bits GROUP BY 1, 2, 3),
       cand AS (
         SELECT DISTINCT a.id AS id_a, b2.id AS id_b
         FROM bands a JOIN bands b2
           ON a.k = b2.k AND a.band = b2.band AND a.v = b2.v
             AND a.id < b2.id),
       wide AS MATERIALIZED (
         SELECT id, k,
                max(v) FILTER (band = 0) AS b0,
                max(v) FILTER (band = 1) AS b1,
                max(v) FILTER (band = 2) AS b2,
                max(v) FILTER (band = 3) AS b3
         FROM bands GROUP BY id, k),
       perf AS (
         SELECT cand.id_a, cand.id_b, wa.k,
                bit_count(xor(wa.b0, wb.b0)) +
                bit_count(xor(wa.b1, wb.b1)) +
                bit_count(xor(wa.b2, wb.b2)) +
                bit_count(xor(wa.b3, wb.b3)) AS ham
         FROM cand JOIN wide wa ON cand.id_a = wa.id
                   JOIN wide wb ON cand.id_b = wb.id AND wb.k = wa.k)
       SELECT id_a, id_b, CAST(sum(ham) AS INT) AS ham_total
       FROM perf GROUP BY 1, 2 HAVING max(ham) <= 8"""
  }

  /** mm6's dual replays the WHOLE cross-modal composition: fixture
    * captions via the same base self-join, pixels from the md5 closed
    * form (no codec — agreement proves the PNG chain again), dd20's
    * winnow-candidate SQL over the captions, the image band chain,
    * the intersection, and the exact trigram-Jaccard verify.
    */
  private val mm6Oracle: String = {
    val hSeed = mm3Hex4(
      "md5((CASE WHEN cls = 2 THEN CAST(id AS VARCHAR) || '#imgr#' " +
        "ELSE CAST(b AS VARCHAR) || '#px6#' END) || CAST(i AS VARCHAR))")
    s"""WITH lab AS (
         SELECT doc_id AS id,
                CASE WHEN doc_id % 9 = 4 AND doc_id > 0
                     THEN (doc_id // 9) % 3 ELSE -1 END AS cls,
                CASE WHEN doc_id % 9 = 4 AND doc_id > 0
                     THEN doc_id - 1 ELSE doc_id END AS b
         FROM documents),
       caps AS MATERIALIZED (
         SELECT l.id AS doc_id,
                CASE WHEN l.cls = 1
                     THEN md5(CAST(l.id AS VARCHAR) || '#cap#')
                     WHEN l.cls IN (0, 2) THEN d.text || ' zq'
                     ELSE d.text END AS caption
         FROM lab l JOIN documents d ON d.doc_id = l.b),
       px AS MATERIALIZED (
         SELECT id, cls, b, unnest(range(0, 288)) AS i FROM lab),
       pv AS MATERIALIZED (
         SELECT id, i,
                CASE WHEN cls IN (0, 1) AND i % 7 = 0 AND i < 72
                     THEN ($hSeed % 256 + 73) % 256
                     ELSE $hSeed % 256 END AS p
         FROM px),
       bs AS MATERIALIZED (
         SELECT id, (i // 18) // 2 AS r, (i % 18) // 2 AS c,
                CAST(sum(p) AS BIGINT) AS s
         FROM pv GROUP BY 1, 2, 3),
       bits AS MATERIALIZED (
         SELECT a.id, a.r, a.c,
                CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
         FROM bs a JOIN bs b ON a.id = b.id AND a.r = b.r
           AND b.c = a.c + 1
         WHERE a.c < 8),
       bands AS MATERIALIZED (
         SELECT id, r // 2 AS band,
                CAST(sum(bit * (1 << ((r % 2) * 8 + c))) AS INT) AS v
         FROM bits GROUP BY 1, 2),
       icand AS (
         SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.v = b.v AND a.id < b.id),
       wide AS MATERIALIZED (
         SELECT id,
                max(v) FILTER (band = 0) AS b0,
                max(v) FILTER (band = 1) AS b1,
                max(v) FILTER (band = 2) AS b2,
                max(v) FILTER (band = 3) AS b3
         FROM bands GROUP BY id),
       ih AS MATERIALIZED (
         SELECT id_a, id_b,
                CAST(bit_count(xor(wa.b0, wb.b0)) +
                     bit_count(xor(wa.b1, wb.b1)) +
                     bit_count(xor(wa.b2, wb.b2)) +
                     bit_count(xor(wa.b3, wb.b3)) AS INT) AS hamming
         FROM icand JOIN wide wa ON icand.id_a = wa.id
                    JOIN wide wb ON icand.id_b = wb.id
         WHERE bit_count(xor(wa.b0, wb.b0)) +
               bit_count(xor(wa.b1, wb.b1)) +
               bit_count(xor(wa.b2, wb.b2)) +
               bit_count(xor(wa.b3, wb.b3)) <= 10),
       ws AS (SELECT doc_id, lower(trim(caption)) AS s FROM caps),
       wb2 AS (SELECT doc_id, s, CAST(length(s) - 7 AS INT) AS g
               FROM ws WHERE length(s) - 7 >= 4),
       wk AS (SELECT doc_id, g,
                list_transform(range(1, g + 1),
                  p -> md5(substr(s, CAST(p AS INT), 8)) ||
                       lpad(CAST(100000000 - p AS VARCHAR), 8, '0'))
                  AS keys
              FROM wb2),
       wsel AS (SELECT doc_id,
                  list_distinct(list_transform(range(1, g - 2),
                    w -> list_min(keys[w:w+3]))) AS sel
                FROM wk),
       wdh AS MATERIALIZED (
         SELECT DISTINCT doc_id, substr(key, 1, 32) AS h
         FROM (SELECT doc_id, unnest(sel) AS key FROM wsel)),
       wf AS (SELECT h, count(*) AS df FROM wdh GROUP BY h),
       wkept AS MATERIALIZED (
         SELECT wdh.doc_id, wdh.h FROM wdh JOIN wf USING (h)
         WHERE wf.df <= 16),
       tcand AS MATERIALIZED (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM wkept a JOIN wkept b
           ON a.h = b.h AND a.doc_id < b.doc_id),
       jcand AS MATERIALIZED (
         SELECT i.id_a, i.id_b, i.hamming
         FROM ih i JOIN tcand t
           ON i.id_a = t.id_a AND i.id_b = t.id_b),
       gr AS MATERIALIZED (
         SELECT DISTINCT doc_id, unnest(
           CASE WHEN length(s) >= 3
                THEN list_transform(range(1, length(s) - 1),
                                    i -> substr(s, CAST(i AS INT), 3))
                ELSE [s] END) AS gram
         FROM ws),
       gs2 AS (SELECT doc_id, count(*) AS sz FROM gr GROUP BY doc_id),
       ix AS (SELECT c.id_a, c.id_b, c.hamming, count(*) AS o
              FROM jcand c
              JOIN gr a ON a.doc_id = c.id_a
              JOIN gr b2 ON b2.doc_id = c.id_b AND b2.gram = a.gram
              GROUP BY 1, 2, 3)
       SELECT id_a, id_b, hamming,
              CAST(o AS DOUBLE) / (sa.sz + sb.sz - o) AS jaccard
       FROM ix JOIN gs2 sa ON sa.doc_id = ix.id_a
               JOIN gs2 sb ON sb.doc_id = ix.id_b
       WHERE CAST(o AS DOUBLE) / (sa.sz + sb.sz - o) >= 0.8"""
  }

  val oracles: Map[String, String] = Map(
    // brute-force exact trigram Jaccard — ground truth the prefix-
    // filter join must reproduce pair-for-pair (recall guarantee)
    // containment checks: n_violations is structurally 0 (the Spark
    // side anti-joins sketch-emitted pairs against ITS exact truth
    // set, whose predicate is the same expression the verify phase
    // ran); n_truth is the cross-engine leg — DuckDB recomputes the
    // exact pair count independently
    "dd16_ngram_containment" ->
      """WITH t AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
         g AS (SELECT DISTINCT doc_id, unnest(
                 CASE WHEN length(s) >= 3
                      THEN list_transform(range(1, length(s) - 1),
                                          i -> substr(s, CAST(i AS INT), 3))
                      ELSE [s] END) AS gram
               FROM t),
         gs AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
         ix AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS o
                FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         truth AS (
           SELECT id_a, id_b
           FROM ix JOIN gs sa ON sa.doc_id = ix.id_a
                   JOIN gs sb ON sb.doc_id = ix.id_b
           WHERE CAST(o AS DOUBLE) / (sa.sz + sb.sz - o) >= 0.8)
         SELECT CAST(0 AS BIGINT) AS n_violations,
                CAST(count(*) AS BIGINT) AS n_truth FROM truth""",
    // same containment shape for the SimHash family: n_violations is
    // structurally 0 (emitted pairs re-scored with the exact kernel,
    // anti-joined against the guaranteed-recall truth set); n_truth is
    // the independent cross-engine recount
    "dd19_simhash_containment" ->
      """WITH t AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
         g AS (SELECT DISTINCT doc_id, unnest(
                 CASE WHEN length(s) >= 3
                      THEN list_transform(range(1, length(s) - 1),
                                          i -> substr(s, CAST(i AS INT), 3))
                      ELSE [s] END) AS gram
               FROM t),
         gs AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
         ix AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS o
                FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         truth AS (
           SELECT id_a, id_b
           FROM ix JOIN gs sa ON sa.doc_id = ix.id_a
                   JOIN gs sb ON sb.doc_id = ix.id_b
           WHERE CAST(o AS DOUBLE) / (sa.sz + sb.sz - o) >= 0.8)
         SELECT CAST(0 AS BIGINT) AS n_violations,
                CAST(count(*) AS BIGINT) AS n_truth FROM truth""",
    // dd10's fuzzy-decontamination twin: the same exact-Jaccard truth
    // restricted to pairs straddling the mod-5 corpus/eval split —
    // n_violations structurally 0 (fuzzy hits re-scored >= 0.8 by the
    // exact kernel are anti-joined against the guaranteed-recall
    // truth), n_truth recounted independently by DuckDB
    "dd22_fuzzy_containment" ->
      """WITH t AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
         g AS (SELECT DISTINCT doc_id, unnest(
                 CASE WHEN length(s) >= 3
                      THEN list_transform(range(1, length(s) - 1),
                                          i -> substr(s, CAST(i AS INT), 3))
                      ELSE [s] END) AS gram
               FROM t),
         gs AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
         ix AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS o
                FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         truth AS (
           SELECT id_a, id_b
           FROM ix JOIN gs sa ON sa.doc_id = ix.id_a
                   JOIN gs sb ON sb.doc_id = ix.id_b
           WHERE CAST(o AS DOUBLE) / (sa.sz + sb.sz - o) >= 0.8
             AND ((id_a % 5 = 0) <> (id_b % 5 = 0)))
         SELECT CAST(0 AS BIGINT) AS n_violations,
                CAST(count(*) AS BIGINT) AS n_truth FROM truth""",
    // explicit sequential-fold cosine on DOUBLE[] — the mmr1-proven
    // bit-exact twin of Spark's cosine_sim (list_cosine_similarity
    // computes in list-element precision, which is FLOAT here)
    "dd17_embedding_containment" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         p AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                  round(
                    list_reduce(list_transform(range(1, len(a.v) + 1),
                        i -> a.v[i] * b.v[i]), (x, y) -> x + y)
                    / (sqrt(list_reduce(list_transform(range(1, len(a.v) + 1),
                         i -> a.v[i] * a.v[i]), (x, y) -> x + y))
                       * sqrt(list_reduce(list_transform(range(1, len(b.v) + 1),
                         i -> b.v[i] * b.v[i]), (x, y) -> x + y))), 6) AS cos6
           FROM v a JOIN v b ON a.vec_id < b.vec_id)
         SELECT CAST(0 AS BIGINT) AS n_violations,
                CAST(count(*) AS BIGINT) AS n_truth
         FROM p WHERE cos6 >= 0.4""",
    "dd7_exact_jaccard" ->
      """WITH t AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
         g AS (SELECT DISTINCT doc_id, unnest(
                 CASE WHEN length(s) >= 3
                      THEN list_transform(range(1, length(s) - 1),
                                          i -> substr(s, CAST(i AS INT), 3))
                      ELSE [s] END) AS gram
               FROM t),
         gs AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
         ix AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS o
                FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
         SELECT id_a, id_b,
                CAST(o AS DOUBLE) / (sa.sz + sb.sz - o) AS jaccard
         FROM ix JOIN gs sa ON sa.doc_id = ix.id_a
                 JOIN gs sb ON sb.doc_id = ix.id_b
         WHERE CAST(o AS DOUBLE) / (sa.sz + sb.sz - o) >= 0.8""",
    // per-token -ln(p) rounded to 6 decimals then DECIMAL-summed: the
    // combine-order-proof exact-sum rule (Ops.dsum); final mean is a
    // double division of identical operands on both engines
    "t10_unigram_logprob" ->
      """WITH toks AS (SELECT doc_id,
                unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
              FROM documents),
         freq AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
         tot AS (SELECT count(*) AS n_total FROM toks),
         lp AS (SELECT doc_id,
                  CAST(round(-ln(CAST(cnt AS DOUBLE) / n_total), 6)
                       AS DECIMAL(18,6)) AS lp
                FROM toks JOIN freq USING (token) CROSS JOIN tot)
         SELECT doc_id, count(*) AS n_tokens,
                CAST(SUM(lp) AS DOUBLE) / count(*) AS mean_neg_logp
         FROM lp GROUP BY doc_id""",
    // portable polynomial rolling hash (mod 2^31-1): list_prepend(0,..)
    // makes DuckDB's first-element-seeded list_reduce match the
    // fold-with-init-0 form; empty tokens reduce to 0 on both engines
    "t4_fingerprint" ->
      """SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(regexp_split_to_array(trim(text), '\s+'),
                 t -> list_reduce(
                        list_prepend(CAST(0 AS BIGINT),
                          list_transform(range(1, length(t) + 1),
                            i -> CAST(unicode(substr(t, CAST(i AS INT), 1))
                                      AS BIGINT))),
                        (a, c) -> (a * 31 + c) % 2147483647))),
             (acc, h) -> (acc * 131 + h) % 2147483647) AS fp
         FROM documents""",
    // exact integer prefix-sum placement; SUM(BIGINT) in DuckDB is
    // HUGEINT, so every derived column casts back to BIGINT
    "pk1_sequence_pack" ->
      """WITH pre AS (
           SELECT doc_id, n_chars,
                  CAST(COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS start
           FROM documents)
         SELECT doc_id, n_chars AS len, start,
                start // 4096 AS seq_id,
                start % 4096 AS seq_offset
         FROM pre""",
    "pk3_bucket_pack" ->
      """WITH pre AS (
           SELECT doc_id, n_chars, n_chars // 256 AS bucket,
                  CAST(COALESCE(SUM(n_chars) OVER (
                    PARTITION BY n_chars // 256 ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS start
           FROM documents)
         SELECT doc_id, n_chars AS len, CAST(bucket AS BIGINT) AS bucket,
                start, start // 4096 AS seq_id, start % 4096 AS seq_offset
         FROM pre""",
    // overlapping word windows are plain strings in both engines;
    // parallel unnest of two equal-length lists aligns element-wise
    "pk2_chunk_overlap" ->
      """WITH tok AS (SELECT doc_id,
                 regexp_split_to_array(trim(text), '\s+') AS ts
               FROM documents),
         meta AS (SELECT doc_id, ts,
                 CAST(CASE WHEN len(ts) <= 16 THEN 1
                      ELSE 1 + (len(ts) - 5) // 12 END AS BIGINT)
                   AS n_chunks
               FROM tok),
         ch AS (SELECT doc_id, n_chunks,
                 unnest(range(0, n_chunks)) AS chunk_id,
                 unnest(list_transform(range(0, n_chunks),
                   i -> array_to_string(
                          ts[CAST(i * 12 + 1 AS INT):
                             CAST(i * 12 + 16 AS INT)], ' ')))
                   AS chunk_text
               FROM meta)
         SELECT doc_id, chunk_id, n_chunks, chunk_text,
                len(regexp_split_to_array(chunk_text, '\s+'))
                  AS n_chunk_tokens
         FROM ch""",
    // word k-grams are plain strings in both engines — exact dual
    "dd8_contamination" -> contaminationOracle,
    "dd18_multiset_contamination" ->
      """WITH tok AS (SELECT doc_id,
                 regexp_split_to_array(lower(trim(text)), '\s+') AS ts
               FROM documents),
         sh AS (SELECT doc_id, CASE WHEN len(ts) >= 3
                 THEN list_transform(range(1, len(ts) - 1),
                        i -> array_to_string(
                               ts[CAST(i AS INT):CAST(i + 2 AS INT)], ' '))
                 ELSE [array_to_string(ts, ' ')] END AS shs
               FROM tok),
         g AS (SELECT DISTINCT doc_id, unnest(shs) AS gram FROM sh),
         eg AS (SELECT DISTINCT m.eval_set, g.gram
                FROM g JOIN (VALUES (89, 'mod89'), (97, 'mod97'),
                             (101, 'mod101')) AS m(modk, eval_set)
                  ON g.doc_id % m.modk = 0),
         corp AS (SELECT doc_id, gram FROM g
                  WHERE doc_id % 89 <> 0 AND doc_id % 97 <> 0
                    AND doc_id % 101 <> 0),
         tot AS (SELECT doc_id, count(*) AS n_grams FROM corp
                 GROUP BY doc_id),
         hit AS (SELECT c.doc_id, e.eval_set, count(*) AS n_hits
                 FROM corp c JOIN eg e ON c.gram = e.gram
                 GROUP BY 1, 2)
         SELECT h.doc_id, h.eval_set, t.n_grams, h.n_hits,
                CAST(h.n_hits AS DOUBLE) / t.n_grams AS contamination
         FROM hit h JOIN tot t ON h.doc_id = t.doc_id""",
    // dd9 is row-identical to dd8 by construction (no-false-negative
    // bloom + exact semi-join verify), so it shares the same dual
    "dd9_contamination_bloom" -> contaminationOracle,
    // dd11 dispatches between the dd8 and dd9 plans, both of which
    // share this dual
    "dd11_contamination_auto" -> contaminationOracle,
    // the span bucket cap (64) and pair counting are plain relational
    // logic over word-8-gram strings — exact dual (the digest shuffle
    // is an implementation detail; DuckDB joins on the span itself)
    "dd12_span_dup" ->
      """WITH tok AS (SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\s+') AS ts
                 FROM documents),
           sh AS (SELECT doc_id, CASE WHEN len(ts) >= 8
                   THEN list_transform(range(1, len(ts) - 6),
                          i -> array_to_string(
                                 ts[CAST(i AS INT):CAST(i + 7 AS INT)], ' '))
                   ELSE [array_to_string(ts, ' ')] END AS shs
                 FROM tok),
           g AS (SELECT DISTINCT doc_id, unnest(shs) AS span FROM sh),
           b AS (SELECT span FROM g GROUP BY span
                 HAVING count(*) BETWEEN 2 AND 64),
           p AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b
                 FROM g a JOIN g c USING (span)
                      JOIN b USING (span)
                 WHERE a.doc_id < c.doc_id)
           SELECT id_a, id_b,
                  CAST(count(*) AS BIGINT) AS n_shared_spans
           FROM p GROUP BY id_a, id_b""",
    // same span domain as dd12, excision replayed literally: window
    // count/row_number pick the duplicated spans and their canonical
    // (min (doc_id, pos)) occurrences, covered positions union via
    // per-occurrence ranges, survivors reassemble with an ordered
    // string_agg — clean text compared verbatim
    "dd27_span_excise" ->
      """WITH t AS MATERIALIZED (
           SELECT doc_id,
                  regexp_split_to_array(lower(trim(text)), '\s+') AS ts
           FROM documents),
         n AS MATERIALIZED (SELECT doc_id, ts, len(ts) AS nw FROM t),
         w AS MATERIALIZED (
           SELECT doc_id, unnest(ts) AS word,
                  unnest(range(0, len(ts))) AS pos
           FROM t),
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
         cov AS MATERIALIZED (
           SELECT DISTINCT doc_id, pos FROM (
             SELECT doc_id, unnest(range(p, p + 8)) AS pos FROM ex)),
         kept AS (
           SELECT w.doc_id, w.pos, w.word FROM w
           ANTI JOIN cov ON w.doc_id = cov.doc_id AND w.pos = cov.pos),
         agg AS (
           SELECT doc_id, count(*) AS n_kept,
                  string_agg(word, ' ' ORDER BY pos) AS clean_text
           FROM kept GROUP BY doc_id)
         SELECT n.doc_id, COALESCE(agg.clean_text, '') AS clean_text,
                CAST(n.nw - COALESCE(agg.n_kept, 0) AS INT) AS n_removed
         FROM n LEFT JOIN agg USING (doc_id)""",
    // same pairs -> connected components via recursive CTE -> cluster
    // membership summary: checks the FULL transitive-closure semantics
    "dd6_cluster_keep" ->
      """WITH RECURSIVE t AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
         g AS (SELECT DISTINCT doc_id, unnest(
                 CASE WHEN length(s) >= 3
                      THEN list_transform(range(1, length(s) - 1),
                                          i -> substr(s, CAST(i AS INT), 3))
                      ELSE [s] END) AS gram
               FROM t),
         gs AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
         ix AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS o
                FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         pairs AS (SELECT id_a, id_b
                   FROM ix JOIN gs sa ON sa.doc_id = ix.id_a
                           JOIN gs sb ON sb.doc_id = ix.id_b
                   WHERE CAST(o AS DOUBLE) / (sa.sz + sb.sz - o) >= 0.8),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         reach(src, dst) AS (
                   SELECT src, dst FROM edges
                   UNION
                   SELECT r.src, e.dst FROM reach r
                   JOIN edges e ON r.dst = e.src WHERE r.src <> e.dst),
         comp AS (SELECT src AS node, least(src, min(dst)) AS component
                  FROM reach GROUP BY src)
         SELECT CAST(component AS BIGINT) AS keep_id,
                count(*) AS n_members
         FROM comp GROUP BY component HAVING count(*) > 1""",
    // the full cleaning composition, phase by phase: the t2-shaped
    // quality score gate (identical double arithmetic on both
    // engines), exact dedup as GROUP BY text (== the sha2 groupBy
    // modulo collisions), brute-force trigram Jaccard >= 0.9 as the
    // near-dup edge set (dd7's oracle shape over the kept subset),
    // four-stage composition, each stage the oracle-exact family
    // member: word-trigram contamination cut -> char-trigram exact
    // near-dup removal -> 16/4 chunk windows -> 512-token packing
    "pipe2_training_prep" -> pipe2OracleSql,
    // pipe2's chain with the near-dup stage swapped to the TIERED
    // gate: dd20's md5-winnow candidate CTEs (df-capped) over the
    // decontaminated corpus feed the exact trigram-Jaccard verify,
    // and the greedy smaller-id removal + chunk/pack stages replay
    // verbatim — the whole scale-path composition in one dual
    "pipe5_tiered_prep" -> pipe5OracleSql,
    "pipe6_auto_prep" -> pipe6OracleSql,
    // greedy smaller-id-survives removal, then the t1/t3 stat duals
    "pipe1_corpus_clean" ->
      """WITH q AS (
           SELECT doc_id, lang, text FROM documents
           WHERE (least(length(text) / 200.0, 1.0) * 0.4
                  + (1.0 - least(CAST(length(text)
                        - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
                        AS DOUBLE) / length(text) * 4, 1.0)) * 0.3
                  + least(CAST(len(regexp_extract_all(lower(text),
                        '\b(the|a|an|of|and|in|to|is|for|on)\b')) AS DOUBLE)
                      / len(regexp_split_to_array(trim(text), '\s+')) * 5,
                      1.0) * 0.3) > 0.3),
         ek AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY text),
         kept AS (SELECT q.* FROM q JOIN ek USING (doc_id)),
         t AS (SELECT doc_id, lower(trim(text)) AS s FROM kept),
         g AS (SELECT DISTINCT doc_id, unnest(
                 CASE WHEN length(s) >= 3
                      THEN list_transform(range(1, length(s) - 1),
                                          i -> substr(s, CAST(i AS INT), 3))
                      ELSE [s] END) AS gram
               FROM t),
         gs AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
         ix AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS o
                FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         removed AS (SELECT DISTINCT id_b
                     FROM ix JOIN gs sa ON sa.doc_id = ix.id_a
                             JOIN gs sb ON sb.doc_id = ix.id_b
                     WHERE CAST(o AS DOUBLE) / (sa.sz + sb.sz - o) >= 0.9),
         fin AS (SELECT * FROM kept
                 WHERE doc_id NOT IN (SELECT id_b FROM removed)),
         hits AS (
           SELECT doc_id, lang, text,
             len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it)\b')) AS h_en,
             len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|zu)\b')) AS h_de,
             len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une|pas|que)\b')) AS h_fr,
             len(regexp_extract_all(lower(text), '\b(el|los|las|es|una|por|que|para)\b')) AS h_es,
             len(regexp_extract_all(lower(text), '\b(de5|shi4|bu4|wo3|zai4|le5|you3|he2)\b')) AS h_zh
           FROM fin)
         SELECT doc_id, lang,
                CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT)
                  AS n_tokens,
                CASE WHEN greatest(h_en, h_de, h_es, h_fr, h_zh) = 0 THEN 'und'
                     WHEN h_zh >= greatest(h_en, h_de, h_es, h_fr) THEN 'zh'
                     WHEN h_fr >= greatest(h_en, h_de, h_es) THEN 'fr'
                     WHEN h_es >= greatest(h_en, h_de) THEN 'es'
                     WHEN h_en >= h_de THEN 'en'
                     ELSE 'de' END AS predicted_lang
         FROM hits""",
    // priority sampling is engine-portable by construction: the Knuth
    // multiplicative hash is plain integer arithmetic, so DuckDB
    // reproduces the EXACT sample (not just its size)
    "z1_zorder_key" -> z1Oracle,
    // hash-Bernoulli stratified sample: keep iff Knuth hash < f * 2^32
    "smp1_stratified" ->
      """SELECT lang, count(*) AS n_sampled
         FROM documents
         WHERE (CAST(doc_id AS BIGINT) * 2654435761 + 42) % 4294967296 <
           CASE lang WHEN 'en' THEN 2147483648
                     WHEN 'de' THEN 4294967296
                     WHEN 'fr' THEN 4294967296
                     WHEN 'es' THEN 1073741824
                     WHEN 'zh' THEN 1073741824 END
         GROUP BY lang""",
    "smp3_weighted_k" ->
      """WITH pri AS (
           SELECT lang, doc_id,
                  round(-ln((((CAST(doc_id AS BIGINT) * 2654435761 + 7)
                              % 4294967296) + 1) / 4294967296.0)
                        / n_chars, 6) AS w_prio
           FROM documents WHERE n_chars > 0),
         ranked AS (
           SELECT lang, w_prio, doc_id,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY w_prio, doc_id) AS rk
           FROM pri)
         SELECT lang, w_prio, doc_id FROM ranked WHERE rk <= 5""",
    "shuf1_training_order" ->
      """SELECT doc_id,
                CAST(row_number() OVER (ORDER BY
                  ((CAST(doc_id AS BIGINT) + 42) * 2654435761) % 4294967296,
                  doc_id) - 1 AS BIGINT) AS train_order
         FROM documents""",
    "smp2_sample_k" ->
      """WITH pri AS (
           SELECT lang, doc_id,
                  (CAST(doc_id AS BIGINT) * 2654435761 + 42) % 4294967296 AS prio
           FROM documents),
         ranked AS (
           SELECT lang, prio, doc_id,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY prio, doc_id) AS rk
           FROM pri)
         SELECT lang, prio, doc_id FROM ranked WHERE rk <= 5""",
    "g1_components" ->
      """SELECT CAST(c_custkey AS BIGINT) AS node,
                CAST(min(c_custkey) OVER (
                  PARTITION BY c_nationkey, c_mktsegment, c_custkey % 10)
                  AS BIGINT) AS component
         FROM customer""",
    "t1_tokens" ->
      """SELECT doc_id,
                CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
                CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_bpeish
         FROM documents""",
    "t11_mix_report" ->
      """WITH t AS (SELECT lang,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS nt,
             CAST(length(text) - length(regexp_replace(text,
               '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) AS pr
           FROM documents)
         SELECT lang,
                CAST((nt // 32) * 32 AS INT) AS len_bucket,
                CAST(FLOOR(pr * 10) AS INT) AS punct_bucket,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(nt) AS BIGINT) AS total_tokens
         FROM t GROUP BY lang, (nt // 32) * 32, FLOOR(pr * 10)""",
    "t2_quality" ->
      """SELECT doc_id,
                CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
                CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|of|and|in|to|is|for|on)\b')) AS INT) AS n_stopwords,
                CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                  / len(regexp_split_to_array(trim(text), '\s+')) AS mean_token_len
         FROM documents""",
    "t3_langid" ->
      """WITH hits AS (
           SELECT doc_id, lang,
             len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it)\b')) AS h_en,
             len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|zu)\b')) AS h_de,
             len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une|pas|que)\b')) AS h_fr,
             len(regexp_extract_all(lower(text), '\b(el|los|las|es|una|por|que|para)\b')) AS h_es,
             len(regexp_extract_all(lower(text), '\b(de5|shi4|bu4|wo3|zai4|le5|you3|he2)\b')) AS h_zh
           FROM documents)
         SELECT doc_id, lang,
           CASE WHEN greatest(h_en, h_de, h_es, h_fr, h_zh) = 0 THEN 'und'
                WHEN h_zh >= greatest(h_en, h_de, h_es, h_fr) THEN 'zh'
                WHEN h_fr >= greatest(h_en, h_de, h_es) THEN 'fr'
                WHEN h_es >= greatest(h_en, h_de) THEN 'es'
                WHEN h_en >= h_de THEN 'en'
                ELSE 'de' END AS predicted
         FROM hits""",
    "t5_redact" ->
      """SELECT doc_id,
                regexp_replace(
                  regexp_replace(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                    '<EMAIL>', 'g'),
                  '\+?\d[\d() .-]{7,}\d', '<PHONE>', 'g') AS redacted
         FROM documents""",
    "t6_repetition" ->
      """SELECT doc_id,
                1.0 - CAST(len(list_distinct(str_split(text, chr(10)))) AS DOUBLE)
                      / len(str_split(text, chr(10))) AS rep_ratio
         FROM documents""",
    "t7_nfc" ->
      """SELECT doc_id, nfc_normalize(text) AS nfc FROM documents""",
    "t16_top_ngram_frac" ->
      """WITH toks AS (
           SELECT doc_id,
                  regexp_split_to_array(lower(trim(text)), '\s+') AS ts
           FROM documents),
         base AS (
           SELECT doc_id, ts,
                  CAST(length(array_to_string(ts, ' ')) AS BIGINT)
                    AS tot_chars
           FROM toks),
         grams AS (
           SELECT doc_id, n, tot_chars,
                  unnest(list_transform(range(1, len(ts) - n + 2),
                    i -> array_to_string(list_slice(ts, i, i + n - 1), ' ')))
                    AS gram
           FROM base, (VALUES (2), (3), (4)) AS v(n)
           WHERE len(ts) >= n),
         counts AS (
           SELECT doc_id, n, gram, max(tot_chars) AS tot_chars,
                  count(*) AS cnt
           FROM grams GROUP BY doc_id, n, gram),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY doc_id, n
                       ORDER BY cnt DESC, gram DESC) AS rk
           FROM counts)
         SELECT doc_id, CAST(n AS INT) AS n, gram AS top_gram,
                CAST(cnt AS BIGINT) AS cnt,
                round(cnt * length(gram) / tot_chars, 6) AS frac6
         FROM ranked WHERE rk = 1""",
    "t17_dup_ngram_frac" ->
      """WITH toks AS (
           SELECT doc_id,
                  regexp_split_to_array(lower(trim(text)), '\s+') AS ts
           FROM documents),
         base AS (
           SELECT doc_id, ts,
                  CAST(length(array_to_string(ts, ' ')) AS BIGINT)
                    AS tot_chars
           FROM toks),
         grams AS (
           SELECT doc_id, n, tot_chars,
                  unnest(list_transform(range(1, len(ts) - n + 2),
                    i -> array_to_string(list_slice(ts, i, i + n - 1), ' ')))
                    AS gram
           FROM base, (VALUES (5), (6), (7), (8), (9), (10)) AS v(n)
           WHERE len(ts) >= n),
         counts AS (
           SELECT doc_id, n, gram, max(tot_chars) AS tot_chars,
                  count(*) AS cnt
           FROM grams GROUP BY doc_id, n, gram)
         SELECT doc_id, CAST(n AS INT) AS n,
                CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS dup_grams,
                round(CAST(sum(CASE WHEN cnt >= 2
                         THEN cnt * length(gram) ELSE 0 END) AS BIGINT)
                      / max(tot_chars), 6) AS frac6
         FROM counts GROUP BY doc_id, n""",
    "t8_wordcount" ->
      """SELECT token, count(*) AS n FROM (
           SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
           FROM documents)
         GROUP BY token ORDER BY n DESC, token LIMIT 100""",
    "dd1_exact" ->
      """SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id,
                count(*) AS n_copies
         FROM documents GROUP BY 1""",
    "t9_tfidf" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
           FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
         df AS (SELECT token, count(*) AS df
                FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         scored AS (
           SELECT doc_id, token, CAST(tf AS BIGINT) AS tf,
                  round(tf * ln((n + 1.0) / (df + 1.0)), 6) AS tfidf
           FROM tf JOIN df USING (token), n),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY doc_id
                       ORDER BY tfidf DESC, token) AS rk
           FROM scored)
         SELECT doc_id, CAST(rk AS INT) AS rk, token, tf, tfidf
         FROM ranked WHERE rk <= 3""",
    "ann1_bruteforce" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         scored AS (
           SELECT vec_id, list_cosine_similarity(embedding, qv) AS sim
           FROM embeddings, q WHERE vec_id <> 0)
         SELECT CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS INT) AS rank,
                vec_id, round(CAST(sim AS DOUBLE), 4) AS sim4
         FROM scored ORDER BY sim DESC, vec_id LIMIT 10""",
    // ann7: the TRUTH legs (pooled exact-top-10 row count + vec_id
    // checksum over query vectors 0-3) replay cross-engine with the
    // dd17 fold-double cosine (bit-identical IEEE sequence to Spark's
    // cosine_sim, so the rank-10 boundary cannot flip between
    // engines); the per-method floors are literals and recall_ok is
    // structurally TRUE — it goes false (hash-red) iff the measured
    // pooled recall at driver time drops below the DedupSpec floor
    "ann7_recall_audit" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM v
               WHERE vec_id IN (0, 1, 2, 3)),
         c AS (SELECT vec_id, v FROM v
               WHERE vec_id NOT IN (0, 1, 2, 3)),
         s AS (
           SELECT q.qid, c.vec_id,
                  list_reduce(list_transform(range(1, len(c.v) + 1),
                      i -> c.v[i] * qv[i]), (x, y) -> x + y)
                  / (sqrt(list_reduce(list_transform(range(1, len(c.v) + 1),
                       i -> c.v[i] * c.v[i]), (x, y) -> x + y))
                     * sqrt(list_reduce(list_transform(range(1, len(qv) + 1),
                       i -> qv[i] * qv[i]), (x, y) -> x + y))) AS cos
           FROM c CROSS JOIN q),
         r AS (SELECT qid, vec_id,
                      row_number() OVER (PARTITION BY qid
                                         ORDER BY cos DESC, vec_id) AS rnk
               FROM s),
         t AS (SELECT qid, vec_id FROM r WHERE rnk <= 10),
         agg AS (SELECT CAST(count(*) AS BIGINT) AS n_truth,
                        CAST(sum(vec_id) AS BIGINT) AS truth_id_sum FROM t)
         SELECT m.method, agg.n_truth, agg.truth_id_sum,
                CAST(m.mh AS BIGINT) AS min_hits, TRUE AS recall_ok
         FROM (VALUES ('ivf', 16), ('lsh', 20), ('pq', 32)) AS m(method, mh)
         CROSS JOIN agg ORDER BY m.method""",
    "mm1_decode_stub" ->
      """SELECT doc_id AS media_id, 'text/plain' AS media_type,
                CAST(octet_length(encode(text)) AS INT) AS n_bytes,
                CAST(8 AS INT) AS feat_dim
         FROM documents""",
    "ann5_radius" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         scored AS (
           SELECT vec_id,
                  round(CAST(list_cosine_similarity(embedding, qv) AS DOUBLE), 4) AS sim4
           FROM embeddings, q WHERE vec_id <> 0)
         SELECT vec_id, sim4 FROM scored WHERE sim4 >= 0.3""",
    "ann4_batch" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv
                    FROM embeddings WHERE vec_id BETWEEN 1 AND 5),
         c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id > 5),
         scored AS (
           SELECT qid, c.vec_id,
                  list_cosine_similarity(c.embedding, qv) AS sim
           FROM c, q),
         ranked AS (
           SELECT qid, vec_id, sim,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY sim DESC, vec_id) AS rk
           FROM scored)
         SELECT qid, CAST(rk AS INT) AS rank, vec_id,
                round(CAST(sim AS DOUBLE), 4) AS sim4
         FROM ranked WHERE rk <= 10""",
    "mm2_frame_sample" ->
      """WITH m AS (
           SELECT doc_id AS media_id, octet_length(encode(text)) AS L
           FROM documents),
         c AS (
           SELECT media_id, L, CAST(ceil(L / 1024.0) AS BIGINT) AS nc
           FROM m),
         f AS (
           SELECT media_id, L, unnest(range(0, nc)) AS idx FROM c)
         SELECT media_id, CAST(idx AS INT) AS frame_idx,
                CAST(LEAST(1024, L - idx * 1024) AS INT) AS frame_bytes
         FROM f WHERE idx % 2 = 0""",
    // replays pixels -> block sums -> dHash bits -> bands ->
    // band-bucket join -> Hamming from the md5 pixel formula alone
    // (no image codec in DuckDB): matching hashes PROVE the Spark
    // side's PNG encode -> ImageIO decode cycle is pixel-exact
    "mm3_image_dhash_neardup" -> mm3Oracle,
    "mm4_audio_neardup" -> mm4Oracle,
    "mm5_video_neardup" -> mm5Oracle,
    "mm6_crossmodal_neardup" -> mm6Oracle,
    "asof1_backward" -> asofBackwardOracle,
    // identical semantics, skew-proof execution — same oracle
    "asof4_backward_chunked" -> asofBackwardOracle,
    // auto-dispatcher: both tiers row-identical — same oracle covers
    // whichever tier the key-cardinality probe picks at each scale
    "asof12_auto" -> asofBackwardOracle,
    "asof9_exec_tolerance" ->
      """WITH r AS (
           SELECT user_id, ts, signup_value FROM (
             SELECT user_id, ts, value AS signup_value,
                    row_number() OVER (PARTITION BY user_id, ts
                      ORDER BY value DESC) AS rn
             FROM events WHERE event_type = 'signup')
           WHERE rn = 1)
         SELECT l.event_id, l.ts, l.user_id, l.event_type,
                CASE WHEN l.ts - r.ts <= INTERVAL 1 DAY
                     THEN r.signup_value END AS signup_value
         FROM events l ASOF LEFT JOIN r
           ON l.user_id = r.user_id AND l.ts >= r.ts""",
    "asof10_exec_multikey" ->
      """WITH l AS (
           SELECT event_id, ts, user_id, event_type,
                  user_id % 100 AS cohort
           FROM events),
         r AS (
           SELECT cohort, event_type, ts, ref_value FROM (
             SELECT user_id % 100 AS cohort, event_type, ts,
                    value AS ref_value,
                    row_number() OVER (
                      PARTITION BY user_id % 100, event_type, ts
                      ORDER BY value DESC) AS rn
             FROM events WHERE event_id % 7 = 0)
           WHERE rn = 1)
         SELECT l.event_id, l.ts, l.user_id, l.event_type, l.cohort,
                r.ref_value
         FROM l ASOF LEFT JOIN r
           ON l.cohort = r.cohort AND l.event_type = r.event_type
              AND l.ts >= r.ts""",
    "asof2_forward" -> asofForwardOracle,
    "asof3_nearest" -> asofNearestOracle,
    // identical semantics, skew-proof execution — same oracle
    "asof5_nearest_chunked" -> asofNearestOracle,
    "x2_sql_textops" ->
      """SELECT doc_id,
                nfc_normalize(text) = text AS already_nfc,
                CAST(CASE WHEN length(lower(text)) < 3 THEN 1
                     ELSE len(list_distinct([substring(lower(text), i, 3)
                       for i in range(1, length(lower(text)) - 1)])) END AS INT)
                  AS n_trigrams
         FROM documents""",
    "x3_sql_frames" ->
      """WITH m AS (
           SELECT doc_id, octet_length(encode(text)) AS L FROM documents),
         c AS (
           SELECT doc_id, L, CAST(ceil(L / 128.0) AS BIGINT) AS nc FROM m),
         f AS (
           SELECT doc_id, L, unnest(range(0, nc)) AS idx FROM c)
         SELECT doc_id, CAST(idx AS INT) AS frame_idx,
                CAST(LEAST(128, L - idx * 128) AS INT) AS frame_bytes
         FROM f WHERE idx % 3 = 0""",
    // float32->double is exact, double ops are IEEE-identical, and
    // floor(x/scale + 0.5) avoids round()'s engine-specific tie rule
    "vq1_quant_int8" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
         s AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
               FROM v)
         SELECT vec_id, scale,
                CAST(to_json(CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
                     ELSE list_transform(v,
                       x -> CAST(FLOOR(x / scale + 0.5) AS INT)) END)
                  AS VARCHAR) AS qvec
         FROM s""",
    // chunk ids via exclusive prefix-count of boundary flags == the
    // Spark side's 0-based starts-array numbering
    "cdc1_content_chunks" ->
      """WITH toks AS (SELECT doc_id,
                unnest(regexp_split_to_array(trim(text), '\s+')) AS w,
                generate_subscripts(
                  regexp_split_to_array(trim(text), '\s+'), 1) AS i
              FROM documents),
         h AS (SELECT doc_id, w, i,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(range(1, length(w) + 1),
                     j -> CAST(unicode(substr(w, CAST(j AS INT), 1))
                               AS BIGINT))),
                   (a, c) -> (a * 31 + c) % 2147483647) AS th
               FROM toks),
         c AS (SELECT doc_id, w, i,
                 COALESCE(SUM(CASE WHEN th % 16 = 0 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY i
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS chunk_id
               FROM h)
         SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
                string_agg(w, ' ' ORDER BY i) AS chunk_text,
                CAST(count(*) AS BIGINT) AS n_chunk_tokens
         FROM c GROUP BY doc_id, chunk_id""",
    "nov1_ngram_novelty" ->
      """WITH toks AS (SELECT doc_id,
                regexp_split_to_array(lower(trim(text)), '\s+') AS t
              FROM documents),
         g AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 3
                 THEN list_transform(range(1, len(t) - 1),
                   i -> array_to_string(t[i:i+2], ' '))
                 ELSE [array_to_string(t, ' ')] END) AS gram
               FROM toks),
         dg AS (SELECT DISTINCT doc_id, gram FROM g),
         f AS (SELECT gram, CAST(count(*) AS BIGINT) AS n_docs
               FROM dg GROUP BY gram)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_shared,
                CAST(CAST(round(CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0
                  END) AS DOUBLE) / count(*), 6)
                  AS DECIMAL(18,6)) AS DOUBLE) AS shared_frac
         FROM dg JOIN f USING (gram) GROUP BY doc_id""",
    "t14_bigram_logprob" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
           FROM documents),
         pairs AS (
           SELECT doc_id, t[i] AS w1, t[i+1] AS w2
           FROM toks, unnest(range(1, len(t))) AS u(i)),
         pc AS (SELECT w1, w2, count(*) AS n_pair FROM pairs GROUP BY 1, 2),
         wc AS (SELECT w1, count(*) AS n_w1 FROM pairs GROUP BY 1),
         v AS (SELECT count(DISTINCT tok) AS v
               FROM (SELECT unnest(t) AS tok FROM toks)),
         lp AS (
           SELECT p.doc_id,
                  CAST(round(-ln(CAST(n_pair + 1 AS DOUBLE) / (n_w1 + v)), 6)
                       AS DECIMAL(18,6)) AS lp
           FROM pairs p JOIN pc USING (w1, w2) JOIN wc USING (w1), v)
         SELECT doc_id, count(*) AS n_bigrams,
                CAST(sum(lp) AS DOUBLE) / count(*) AS mean_neg_logp2
         FROM lp GROUP BY 1""",
    "mix2_budget_sample" ->
      """SELECT doc_id, source, n_tokens, cum_tokens FROM (
           SELECT doc_id, source,
                  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT)
                    AS n_tokens,
                  CAST(sum(CAST(len(regexp_split_to_array(trim(text), '\s+'))
                    AS INT)) OVER (PARTITION BY source
                      ORDER BY n_chars DESC, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_tokens
           FROM documents)
         WHERE cum_tokens <= 4000""",
    "rp1_random_projection" ->
      """SELECT vec_id, j,
                round(list_reduce(list_transform(range(64), i ->
                  CAST(embedding[i+1] AS DOUBLE) *
                  CASE WHEN (i*73 + j*149) % 13 < 6
                       THEN 1.0 ELSE -1.0 END),
                  (a, b) -> a + b), 6) AS proj
         FROM embeddings, (SELECT unnest(range(16)) AS j)""",
    "g2_pagerank" -> pagerankOracle(8),
    "iv1_inverted_index" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
           FROM documents),
         tf AS (
           SELECT term, doc_id, count(*) AS tf FROM toks
           WHERE term <> '' AND length(term) >= 3 GROUP BY 1, 2)
         SELECT term, doc_id, tf, df FROM (
           SELECT term, doc_id, tf,
                  count(*) OVER (PARTITION BY term) AS df
           FROM tf)
         WHERE df >= 5""",
    "t13_bm25" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
           FROM documents),
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
         agg AS (SELECT doc_id, CAST(sum(contrib) AS DOUBLE) AS score,
                        count(*) AS n_terms_hit FROM scored GROUP BY 1)
         SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
                  AS rank,
                doc_id, score, n_terms_hit
         FROM agg ORDER BY score DESC, doc_id LIMIT 20""",
    // dual checks the SEMANTICS (length-banded exact levenshtein all-
    // pairs over the tiny distinct vocab); the Spark side reaches the
    // same set via SymSpell deletion-neighborhood candidates
    "ed1_spelling_pairs" ->
      """WITH toks AS (
           SELECT unnest(regexp_split_to_array(lower(trim(p_name)), '\s+'))
                    AS term
           FROM part),
         v AS (SELECT term, count(*) AS n FROM toks
               WHERE regexp_matches(term, '^[a-z]+$') AND length(term) >= 3
               GROUP BY 1),
         pairs AS (
           SELECT a.term AS w1, b.term AS w2, a.n AS n1, b.n AS n2
           FROM v a JOIN v b
             ON a.term < b.term
            AND abs(length(a.term) - length(b.term)) <= 1)
         SELECT w1, w2, n1, n2 FROM pairs
         WHERE levenshtein(w1, w2) <= 1""",
    "ts1_gapfill" ->
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS total
           FROM events GROUP BY 1, 2),
         b AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
         grid AS (
           SELECT et.event_type, CAST(g.d AS DATE) AS day
           FROM (SELECT DISTINCT event_type FROM daily) et
           CROSS JOIN (SELECT unnest(generate_series(lo, hi,
                         INTERVAL 1 DAY)) AS d FROM b) g),
         j AS (
           SELECT g.event_type, g.day, daily.total
           FROM grid g LEFT JOIN daily
             ON g.event_type = daily.event_type AND g.day = daily.day)
         SELECT event_type, day,
                CAST(last_value(total IGNORE NULLS) OVER (
                  PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE) AS filled_total,
                total IS NOT NULL AS observed
         FROM j""",
    // composed dual of the curation pipeline: split -> cap -> CDC ->
    // chunk dedup (min (doc_id, chunk_id) per distinct chunk text)
    "pipe3_curation" ->
      """WITH b AS (SELECT *,
                CAST(CAST(concat('0x', substring(
                  md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS UBIGINT) % 100
                  AS BIGINT) AS bucket
              FROM documents),
         cap AS (SELECT doc_id, text FROM (
                   SELECT doc_id, text,
                     row_number() OVER (PARTITION BY source
                       ORDER BY n_chars DESC, doc_id) AS rk
                   FROM b WHERE bucket < 80)
                 WHERE rk <= 20),
         toks AS (SELECT doc_id,
                unnest(regexp_split_to_array(trim(text), '\s+')) AS w,
                generate_subscripts(
                  regexp_split_to_array(trim(text), '\s+'), 1) AS i
              FROM cap),
         h AS (SELECT doc_id, w, i,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(range(1, length(w) + 1),
                     j -> CAST(unicode(substr(w, CAST(j AS INT), 1))
                               AS BIGINT))),
                   (a, c) -> (a * 31 + c) % 2147483647) AS th
               FROM toks),
         c AS (SELECT doc_id, w, i,
                 COALESCE(SUM(CASE WHEN th % 16 = 0 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY i
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS chunk_id
               FROM h),
         ch AS (SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
                  string_agg(w, ' ' ORDER BY i) AS chunk_text,
                  CAST(count(*) AS BIGINT) AS n_chunk_tokens
                FROM c GROUP BY doc_id, chunk_id)
         SELECT doc_id, chunk_id, n_chunk_tokens FROM (
           SELECT doc_id, chunk_id, n_chunk_tokens,
             row_number() OVER (PARTITION BY chunk_text
               ORDER BY doc_id, chunk_id) AS rn
           FROM ch) WHERE rn = 1""",
    "cap1_source_cap" ->
      """SELECT doc_id, source, rk FROM (
           SELECT doc_id, source,
                  CAST(row_number() OVER (PARTITION BY source
                    ORDER BY n_chars DESC, doc_id) AS INT) AS rk
           FROM documents)
         WHERE rk <= 20""",
    "bpe1_train_merges" ->
      s"""WITH ${bpeCtes(5)}
         SELECT step, merge_a, merge_b, weight FROM (
           ${(0 until 5).map(k =>
             s"SELECT ${k + 1} AS step, a AS merge_a, b AS merge_b, " +
               s"w AS weight FROM m$k").mkString(" UNION ALL ")})""",
    "bpe2_apply_counts" ->
      s"""WITH ${bpeCtes(5)}
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                CAST(sum(n_syms) AS BIGINT) AS n_bpe
         FROM (SELECT doc_id,
                 unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                   AS word
               FROM documents) t
         JOIN (SELECT word,
                 CAST(len(string_split(syms, ' ')) AS BIGINT) AS n_syms
               FROM v5) v USING (word)
         WHERE word <> '' GROUP BY doc_id""",
    "vq2_sign_pack" ->
      """SELECT vec_id,
           coalesce(bit_or(CASE WHEN i <= 32 AND x > 0
                           THEN 1::BIGINT << (i - 1) END), 0) AS w0,
           coalesce(bit_or(CASE WHEN i > 32 AND x > 0
                           THEN 1::BIGINT << (i - 33) END), 0) AS w1
         FROM (SELECT vec_id, unnest(embedding) AS x,
                      generate_subscripts(embedding, 1) AS i
               FROM embeddings)
         GROUP BY vec_id""",
    "hm1_hamming_topk" ->
      """WITH p AS (
           SELECT vec_id,
             coalesce(bit_or(CASE WHEN i <= 32 AND x > 0
                             THEN 1::BIGINT << (i - 1) END), 0) AS w0,
             coalesce(bit_or(CASE WHEN i > 32 AND x > 0
                             THEN 1::BIGINT << (i - 33) END), 0) AS w1
           FROM (SELECT vec_id, unnest(embedding) AS x,
                        generate_subscripts(embedding, 1) AS i
                 FROM embeddings)
           GROUP BY vec_id),
         q AS (SELECT w0 AS q0, w1 AS q1 FROM p WHERE vec_id = 0)
         SELECT vec_id,
                CAST(bit_count(xor(w0, q0)) + bit_count(xor(w1, q1))
                     AS INT) AS hamming
         FROM p, q WHERE vec_id <> 0
         ORDER BY hamming, vec_id LIMIT 10""",
    // the quantized k-means family: global scale -> int8 codes ->
    // exact integer L2^2 (na - 2*dot + nb == sum((a-b)^2) exactly;
    // list_inner_product's double is exact at these magnitudes)
    "km1_assign_q" ->
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
               FROM qv CROSS JOIN c)
         SELECT vec_id, CAST(cid AS INT) AS cluster, dist2
         FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                 ORDER BY dist2, cid) AS rn FROM d)
         WHERE rn = 1""",
    // three Lloyd iterations unrolled as chained CTEs; centroid update
    // = element-wise FLOOR(sum/count) (exact double at these sums),
    // empty clusters keep the previous centroid via the LEFT JOIN
    "km2_lloyd_q" ->
      """WITH mx AS (SELECT max(list_max(list_transform(
                  CAST(embedding AS DOUBLE[]), x -> abs(x)))) / 127.0
                  AS scale FROM embeddings),
         qv AS (SELECT vec_id,
                  CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
                       ELSE list_transform(v,
                         x -> CAST(FLOOR(x / scale + 0.5) AS INT)) END AS qvec
                FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                      FROM embeddings) CROSS JOIN mx),
         c0 AS (SELECT vec_id AS cid, qvec AS cvec FROM qv WHERE vec_id < 8),
         a1 AS (SELECT vec_id, qvec, cid AS cluster FROM (
                  SELECT qv.vec_id, qv.qvec, c0.cid,
                    row_number() OVER (PARTITION BY qv.vec_id ORDER BY
                      CAST(list_inner_product(qv.qvec, qv.qvec)
                         - 2 * list_inner_product(qv.qvec, c0.cvec)
                         + list_inner_product(c0.cvec, c0.cvec) AS BIGINT),
                      c0.cid) AS rn
                  FROM qv CROSS JOIN c0) WHERE rn = 1),
         u1 AS (SELECT cluster, list(CAST(FLOOR(CAST(s AS DOUBLE) / n)
                  AS INT) ORDER BY pos) AS cvec
                FROM (SELECT cluster, i AS pos, sum(x) AS s, count(*) AS n
                      FROM (SELECT cluster, unnest(qvec) AS x,
                                   generate_subscripts(qvec, 1) AS i FROM a1)
                      GROUP BY cluster, i)
                GROUP BY cluster),
         c1 AS (SELECT c0.cid, coalesce(u1.cvec, c0.cvec) AS cvec
                FROM c0 LEFT JOIN u1 ON u1.cluster = c0.cid),
         a2 AS (SELECT vec_id, qvec, cid AS cluster FROM (
                  SELECT qv.vec_id, qv.qvec, c1.cid,
                    row_number() OVER (PARTITION BY qv.vec_id ORDER BY
                      CAST(list_inner_product(qv.qvec, qv.qvec)
                         - 2 * list_inner_product(qv.qvec, c1.cvec)
                         + list_inner_product(c1.cvec, c1.cvec) AS BIGINT),
                      c1.cid) AS rn
                  FROM qv CROSS JOIN c1) WHERE rn = 1),
         u2 AS (SELECT cluster, list(CAST(FLOOR(CAST(s AS DOUBLE) / n)
                  AS INT) ORDER BY pos) AS cvec
                FROM (SELECT cluster, i AS pos, sum(x) AS s, count(*) AS n
                      FROM (SELECT cluster, unnest(qvec) AS x,
                                   generate_subscripts(qvec, 1) AS i FROM a2)
                      GROUP BY cluster, i)
                GROUP BY cluster),
         c2 AS (SELECT c1.cid, coalesce(u2.cvec, c1.cvec) AS cvec
                FROM c1 LEFT JOIN u2 ON u2.cluster = c1.cid),
         a3 AS (SELECT vec_id, qvec, cid AS cluster FROM (
                  SELECT qv.vec_id, qv.qvec, c2.cid,
                    row_number() OVER (PARTITION BY qv.vec_id ORDER BY
                      CAST(list_inner_product(qv.qvec, qv.qvec)
                         - 2 * list_inner_product(qv.qvec, c2.cvec)
                         + list_inner_product(c2.cvec, c2.cvec) AS BIGINT),
                      c2.cid) AS rn
                  FROM qv CROSS JOIN c2) WHERE rn = 1),
         u3 AS (SELECT cluster, list(CAST(FLOOR(CAST(s AS DOUBLE) / n)
                  AS INT) ORDER BY pos) AS cvec
                FROM (SELECT cluster, i AS pos, sum(x) AS s, count(*) AS n
                      FROM (SELECT cluster, unnest(qvec) AS x,
                                   generate_subscripts(qvec, 1) AS i FROM a3)
                      GROUP BY cluster, i)
                GROUP BY cluster),
         c3 AS (SELECT c2.cid, coalesce(u3.cvec, c2.cvec) AS cvec
                FROM c2 LEFT JOIN u3 ON u3.cluster = c2.cid)
         SELECT vec_id, CAST(cid AS INT) AS cluster, dist2 FROM (
           SELECT qv.vec_id, c3.cid,
             CAST(list_inner_product(qv.qvec, qv.qvec)
                - 2 * list_inner_product(qv.qvec, c3.cvec)
                + list_inner_product(c3.cvec, c3.cvec) AS BIGINT) AS dist2,
             row_number() OVER (PARTITION BY qv.vec_id ORDER BY
               CAST(list_inner_product(qv.qvec, qv.qvec)
                  - 2 * list_inner_product(qv.qvec, c3.cvec)
                  + list_inner_product(c3.cvec, c3.cvec) AS BIGINT),
               c3.cid) AS rn
           FROM qv CROSS JOIN c3) WHERE rn = 1""",
    // integer cosine-threshold test in HUGEINT (the Spark side stays in
    // BIGINT: max 10^4 * dot^2 ~ 1.1e16 < 2^63)
    "sem1_semdedup_q" ->
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
         asg AS (SELECT vec_id, qvec, cid AS cluster FROM (
                   SELECT qv.vec_id, qv.qvec, c.cid,
                     row_number() OVER (PARTITION BY qv.vec_id ORDER BY
                       CAST(list_inner_product(qv.qvec, qv.qvec)
                          - 2 * list_inner_product(qv.qvec, c.cvec)
                          + list_inner_product(c.cvec, c.cvec) AS BIGINT),
                       c.cid) AS rn
                   FROM qv CROSS JOIN c) WHERE rn = 1),
         w AS (SELECT vec_id, cluster, qvec,
                 CAST(list_inner_product(qvec, qvec) AS HUGEINT) AS n2
               FROM asg),
         dom AS (SELECT DISTINCT b.vec_id
                 FROM w a JOIN w b
                   ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                 WHERE list_inner_product(a.qvec, b.qvec) > 0
                   AND 10000::HUGEINT
                       * CAST(list_inner_product(a.qvec, b.qvec) AS HUGEINT)
                       * CAST(list_inner_product(a.qvec, b.qvec) AS HUGEINT)
                     >= 1600::HUGEINT * a.n2 * b.n2)
         SELECT w.vec_id, CAST(w.cluster AS INT) AS cluster
         FROM w LEFT JOIN dom ON w.vec_id = dom.vec_id
         WHERE dom.vec_id IS NULL""",
    "hm2_hamming_radius" ->
      """WITH p AS (
           SELECT vec_id,
             coalesce(bit_or(CASE WHEN i <= 32 AND x > 0
                             THEN 1::BIGINT << (i - 1) END), 0) AS w0,
             coalesce(bit_or(CASE WHEN i > 32 AND x > 0
                             THEN 1::BIGINT << (i - 33) END), 0) AS w1
           FROM (SELECT vec_id, unnest(embedding) AS x,
                        generate_subscripts(embedding, 1) AS i
                 FROM embeddings)
           GROUP BY vec_id),
         q AS (SELECT w0 AS q0, w1 AS q1 FROM p WHERE vec_id = 0)
         SELECT vec_id,
                CAST(bit_count(xor(w0, q0)) + bit_count(xor(w1, q1))
                     AS INT) AS hamming
         FROM p, q WHERE vec_id <> 0
           AND bit_count(xor(w0, q0)) + bit_count(xor(w1, q1)) <= 26""",
    "spl2_stratified_split" ->
      """WITH r AS (SELECT doc_id, lang,
                row_number() OVER (PARTITION BY lang ORDER BY
                  CAST(CAST(concat('0x', substring(
                    md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS UBIGINT)
                    % 100 AS BIGINT), doc_id) AS rk,
                count(*) OVER (PARTITION BY lang) AS n
              FROM documents)
         SELECT doc_id, lang,
                CASE WHEN rk * 10 <= n * 8 THEN 'train'
                     WHEN rk * 10 <= n * 9 THEN 'val'
                     ELSE 'test' END AS split
         FROM r""",
    "spl1_hash_split" ->
      """WITH b AS (SELECT doc_id,
                CAST(CAST(concat('0x', substring(
                  md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS UBIGINT) % 100
                  AS BIGINT) AS bucket
              FROM documents)
         SELECT doc_id, bucket,
                CASE WHEN bucket < 80 THEN 'train'
                     WHEN bucket < 90 THEN 'val'
                     ELSE 'test' END AS split
         FROM b""",
    "t12_bigram_cond" ->
      """WITH toks AS (SELECT doc_id,
                unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w,
                generate_subscripts(
                  regexp_split_to_array(lower(trim(text)), '\s+'), 1) AS i
              FROM documents),
         p AS (SELECT w AS w1, lead(w) OVER (PARTITION BY doc_id
                 ORDER BY i) AS w2 FROM toks),
         pp AS (SELECT w1, w2, count(*) AS n_pair FROM p
                WHERE w2 IS NOT NULL GROUP BY w1, w2),
         m AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_w1
               FROM pp GROUP BY w1)
         SELECT w1, w2, n_pair, n_w1,
                CAST(CAST(round(-ln(CAST(n_pair AS DOUBLE) / n_w1), 6)
                     AS DECIMAL(18,6)) AS DOUBLE) AS neg_logp
         FROM pp JOIN m USING (w1) WHERE n_pair >= 3""",
    "x1_sql_cosine" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         SELECT vec_id,
                round(CAST(list_cosine_similarity(embedding, qv) AS DOUBLE), 4) AS sim4
         FROM embeddings, q WHERE vec_id <> 0
         ORDER BY sim4 DESC, vec_id LIMIT 5""",
    "e4_interval_join" ->
      """SELECT c.event_id AS click_id, count(*) AS n_buys,
                CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS buy_total
         FROM events c JOIN events p
           ON c.user_id = p.user_id
          AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL '1' HOUR
         WHERE c.event_type = 'click' AND p.event_type = 'purchase'
         GROUP BY c.event_id""",
    "e2_sliding" ->
      """WITH slots AS (
           SELECT event_type,
                  unnest([
                    make_timestamp(CAST(floor(epoch(ts)/1800)*1800*1000000 AS BIGINT)),
                    make_timestamp(CAST((floor(epoch(ts)/1800)*1800 - 1800)*1000000 AS BIGINT))
                  ]) AS window_start
           FROM events)
         SELECT window_start, event_type, count(*) AS n
         FROM slots GROUP BY 1, 2""",
    "e3_session" ->
      """WITH marked AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                       THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         sessioned AS (
           SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS sid
           FROM marked)
         SELECT min(ts) AS session_start,
                max(ts) + INTERVAL 10 MINUTE AS session_end,
                user_id, count(*) AS n_events,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
         FROM sessioned GROUP BY user_id, sid""")
}
