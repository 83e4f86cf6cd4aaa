package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.similarity.Similarity

/** Deduplication operators for training-data pipelines (north-star in
  * BASELINE.json): exact, MinHash+LSH, SimHash, n-gram Jaccard, and
  * embedding-cosine near-dup.
  *
  * Scale design notes (these run over ~10^9 docs in production):
  *  - exact dedup shuffles a 64-hex digest, never the document body;
  *  - candidate generation is always hash-bucket equi-joins (shuffle on
  *    short keys) — no cross joins anywhere;
  *  - pairwise verification only touches LSH candidates, whose count is
  *    bounded by bucket collision rates, not N^2;
  *  - "keep" policy is greedy min-id (drop any doc with a smaller-id
  *    near-duplicate) — one extra semi-join, no connected components /
  *    iterative driver loop.
  */
object Dedup {

  // -------------------------------------------------------------------
  // Exact dedup (hash-groupBy)
  // -------------------------------------------------------------------

  /** One row per distinct content: (content_hash, keep_id = min id,
    * n_copies). The groupBy key is sha2-256 of the body so the shuffle
    * carries 64 chars per row regardless of document size.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(sha2(col(textCol), 256).as("content_hash"), col(idCol))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** The deduplicated id set under exact matching. */
  def exactKeepIds(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exact(df, idCol, textCol).select(col("keep_id").as(idCol))

  // -------------------------------------------------------------------
  // MinHash + LSH banding (word shingles)
  // -------------------------------------------------------------------

  /** Word-level k-shingles over an ALREADY-MATERIALIZED token-array
    * column. IMPORTANT: `toks` must be a plain column reference, not an
    * expression — higher-order lambdas re-evaluate captured
    * subexpressions once per array element, so passing `split(...)`
    * here directly costs O(tokens * split) per row.
    */
  def wordShinglesFromTokens(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
      .otherwise(array(concat_ws(" ", toks)))

  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Convenience form; prefer staging `tokens(text)` as its own column
    * first (see [[minhashPairs]]) on hot paths.
    */
  def wordShingles(text: Column, k: Int): Column =
    wordShinglesFromTokens(tokens(text), k)

  /** Character n-gram shingles; same staging caveat — pass a
    * materialized lowercased column on hot paths.
    */
  def charShingles(text: Column, n: Int): Column = {
    val t = lower(trim(text))
    when(length(t) >= n,
      transform(sequence(lit(1), length(t) - (n - 1)),
        i => t.substr(i, lit(n))))
      .otherwise(array(t))
  }

  /** numHashes-wide MinHash signature: element j is min over shingles
    * of xxh64(j, seed = xxh64(shingle, 42)).
    *
    * Native codegen expression ([[graft.functions.MinHashSig]]): one
    * JVM loop, O(shingles * numHashes) per row. The composable HOF
    * form ([[minhashSignatureHof]]) is kept for cross-checking; it is
    * interpreted per element and — because higher-order lambdas
    * re-evaluate captured subexpressions per element — trivially
    * becomes quadratic if fed an unmaterialized shingle expression
    * (observed as one task pinning a core for minutes at sf0.1).
    */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    graft.functions.HashFunctions.minhash_sig(shingles, numHashes)

  /** Built-ins-only fold form of [[minhashSignature]] (same hash
    * chain, same output values).
    */
  def minhashSignatureHof(shingles: Column, numHashes: Int): Column =
    aggregate(
      shingles,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, s) => zip_with(
        acc,
        transform(sequence(lit(0), lit(numHashes - 1)),
          j => xxhash64(s, j.cast("long"))),
        (a, h) => least(a, h)))

  /** Estimated Jaccard from two signatures: fraction of equal
    * positions. Native codegen loop
    * ([[graft.functions.LongArrayMatchFrac]]); [[estJaccardHof]] is the
    * built-ins-only fold with identical output.
    */
  def estJaccard(sigA: Column, sigB: Column, numHashes: Int): Column =
    graft.functions.VectorFunctions.array_match_frac(sigA, sigB)

  def estJaccardHof(sigA: Column, sigB: Column, numHashes: Int): Column =
    aggregate(zip_with(sigA, sigB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / numHashes

  /** Candidate near-duplicate pairs via banded LSH:
    * signature -> `bands` band-hashes -> explode -> self-equi-join on
    * (band, bandHash) -> estimate Jaccard from signatures -> threshold.
    *
    * Returns (id_a, id_b, est_jaccard), id_a < id_b.
    */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // fused native expression: token array -> signature in one loop —
    // no materialized shingle array, no interpreted HOF (the shingle
    // build alone was ~6x the hashing cost; see MinHashTokensSig).
    // Fan-out below it: the signature build is the expensive stage and
    // otherwise runs single-core inside a few-row-group scan (guide §2;
    // no-op at warehouse scale)
    val signed = graft.ops.Ops.fanOutForCompute(
        df.select(col(idCol).as("id"), col(textCol).as("__txt")), col("id"))
      .select(col("id"),
        graft.functions.HashFunctions.minhash_tokens_sig(
          tokens(col("__txt")), shingleSize, numHashes).as("sig"))

    // SLIM candidate generation: the exploded self-join moves only
    // (id, band, band_hash) — never the 8*numHashes-byte signature —
    // so at 10^9 docs the band shuffle is ~24 B/row instead of ~0.5 KB
    // per band, and the two join arms are identical subplans so Spark
    // reuses one exchange. Signatures then ride a plain scan+project
    // into the pair join (shuffled once per side keyed by id, not once
    // per band) and each distinct pair is scored exactly once with the
    // codegen'd match-fraction loop.
    val banded = signed.select(col("id"),
        posexplode(graft.functions.HashFunctions.minhash_band_hashes(
          col("sig"), bands)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")

    val pairs = banded.select(col("id").as("id_a"), col("band"), col("band_hash"))
      .join(banded.select(col("id").as("id_b"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()

    pairs
      .join(signed.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(signed.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        estJaccard(col("sig_a"), col("sig_b"), numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Two-table MinHash+LSH join — fuzzy decontamination: every
    * (corpus doc, eval doc) pair whose estimated Jaccard reaches the
    * threshold, the near-duplicate complement to the exact-gram
    * overlap scoring of [[contaminationScores]] (paraphrased or
    * lightly-edited benchmark leakage that shares few exact k-grams
    * still collides in MinHash band space).
    *
    * Same scale shape as [[minhashPairs]] — signatures fused
    * per-side, the band join moves only (id, band, band_hash), and
    * signatures ride a by-id join into the distinct-pair scoring — so
    * a 100 TB corpus side is banded once, never re-scanned per eval
    * doc. Because signatures and band hashes are deterministic
    * functions of the text, this equals the SELF-join of the two
    * tables' union restricted to cross pairs (asserted in DedupSpec).
    *
    * Returns (id_l, id_r, est_jaccard) — id_l from `left`, id_r from
    * `right`, no ordering constraint between them.
    */
  def minhashJoin(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    def side(df: DataFrame, name: String) = {
      val signed = df.select(col(idCol).as(name),
        graft.functions.HashFunctions.minhash_tokens_sig(
          tokens(col(textCol)), shingleSize, numHashes).as(s"sig_$name"))
      val banded = signed.select(col(name),
          posexplode(graft.functions.HashFunctions.minhash_band_hashes(
            col(s"sig_$name"), bands)))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "band_hash")
      (signed, banded)
    }
    val (signedL, bandedL) = side(left, "id_l")
    val (signedR, bandedR) = side(right, "id_r")
    bandedL.join(bandedR, Seq("band", "band_hash"))
      .select(col("id_l"), col("id_r"))
      .distinct()
      .join(signedL, Seq("id_l"))
      .join(signedR, Seq("id_r"))
      .select(col("id_l"), col("id_r"),
        estJaccard(col("sig_id_l"), col("sig_id_r"), numHashes)
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Greedy near-dup removal: drop any doc that has a smaller-id
    * near-duplicate (single anti-join over the pair set).
    *
    * Greedy keeps every doc whose near-dup neighbors all have LARGER
    * ids — it is not transitive. Pairs {1~3, 2~3} keep {1, 2} here
    * (two survivors from one duplicate cluster); use
    * [[nearDupClusters]] + [[keepAfterClusters]] for transitive-closure
    * semantics (exactly one survivor per cluster).
    */
  def keepAfterPairs(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("id_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Near-duplicate CLUSTERS: the transitive closure of the pair
    * relation, computed with distributed star contraction
    * ([[graft.graph.ConnectedComponents]] — O(log n) rounds, two
    * node-keyed shuffles per round, no driver-side union-find).
    * Returns (node, component) with component = min doc id reachable
    * through any chain of near-duplicate pairs; docs with no pairs are
    * their own singleton component.
    */
  def nearDupClusters(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    graft.graph.ConnectedComponents.run(
      pairs, "id_a", "id_b", nodes = Some(df.select(col(idCol))))

  /** One survivor per near-dup cluster: the minimum doc id of each
    * component (the canonical representative under transitive-closure
    * semantics — what union-find-based corpus dedup pipelines keep).
    */
  def keepAfterClusters(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val keep = nearDupClusters(df, idCol, pairs)
      .filter(col("node") === col("component"))
      .select(col("node").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  // -------------------------------------------------------------------
  // SimHash
  // -------------------------------------------------------------------

  /** 64-bit SimHash over whitespace tokens: per-token 64-bit hash votes
    * +1/-1 per bit position; the sign vector is the fingerprint.
    * Built from higher-order functions (fold over tokens of a 64-wide
    * vote vector) — codegen'd, no UDF.
    */
  /** Literal array of the 64 bit masks 1L<<i (distinct powers, so a sum
    * over a subset equals the bitwise OR — including the sign bit).
    */
  private val bitMasks: Column =
    typedLit((0 until 64).map(i => 1L << i))

  /** Native codegen expression ([[graft.functions.SimHash64Expr]]);
    * [[simhash64Hof]] is the equivalent built-ins-only fold (identical
    * outputs — same xxh64(token, 42) bit votes).
    */
  def simhash64(text: Column): Column =
    graft.functions.HashFunctions.simhash64(tokens(text))

  def simhash64Hof(text: Column): Column = {
    // hash each token ONCE up front (the fold lambda below reads the
    // hash 64 times — one per bit mask — so it must be an element
    // value, not a recomputed expression)
    val tokenHashes = transform(tokens(text), t => xxhash64(t))
    val votes = aggregate(
      tokenHashes,
      array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc,
        transform(bitMasks,
          m => when(h.bitwiseAND(m) =!= 0, 1).otherwise(-1)),
        (a, v) => a + v))
    aggregate(
      zip_with(votes, bitMasks,
        (v, m) => when(v > 0, m).otherwise(0L)),
      lit(0L), (acc, bit) => acc + bit)
  }

  /** Near-dup pairs with Hamming(simhash) <= maxHamming, via the
    * pigeonhole band trick: split 64 bits into maxHamming+1 chunks —
    * any pair within distance k agrees on >= 1 chunk, so candidates
    * come from equi-joins on chunk values; verify with bit_count(xor).
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val chunks = maxHamming + 1
    val width = 64 / chunks
    // fan-out below the simhash projection (guide §2: per-doc hashing
    // otherwise single-core inside a few-row-group scan; no-op at scale)
    val hashed = graft.ops.Ops.fanOutForCompute(
        df.select(col(idCol).as("id"), col(textCol).as("__txt")), col("id"))
      .select(col("id"), simhash64(col("__txt")).as("sh"))
    val chunkVals = (0 until chunks).map { c =>
      shiftrightunsigned(col("sh"), c * width).bitwiseAND((1L << width) - 1)
    }
    val banded = hashed.select(col("id"), col("sh"),
        posexplode(array(chunkVals: _*)))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "chunk_val")
    val a = banded.select(col("id").as("id_a"), col("sh").as("sh_a"),
      col("chunk"), col("chunk_val"))
    val b = banded.select(col("id").as("id_b"), col("sh").as("sh_b"),
      col("chunk"), col("chunk_val"))
    a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
  }

  // -------------------------------------------------------------------
  // n-gram Jaccard (exact verify over MinHash candidates)
  // -------------------------------------------------------------------

  /** Exact Jaccard of two documents' char-n-gram SETS. */
  def ngramJaccard(a: Column, b: Column, n: Int): Column = {
    val sa = array_distinct(charShingles(a, n))
    val sb = array_distinct(charShingles(b, n))
    val inter = size(array_intersect(sa, sb)).cast("double")
    inter / (size(sa) + size(sb) - inter)
  }

  /** Near-dup pairs by exact character-trigram Jaccard, with MinHash
    * LSH as the candidate generator (low threshold) and the exact
    * measure as the verifier — the standard two-phase design: cheap
    * recall-oriented banding, then precise scoring only on candidates.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.6,
      candidateThreshold: Double = 0.2): DataFrame = {
    val cands = minhashPairs(df, idCol, textCol,
      threshold = candidateThreshold)
    exactJaccardScores(df, idCol, textCol, cands, n)
      .filter(col("jaccard") >= threshold)
  }

  /** Exact char-n-gram-set Jaccard for an explicit (id_a, id_b)
    * candidate frame — the shared verify kernel of the two-phase
    * families (dd4's MinHash candidates, dd19's SimHash audit): each
    * doc's distinct-shingle set as a SORTED 64-BIT HASH array (fused
    * native build, one loop) so the per-pair score is the two-pointer
    * merge scan — same kernel as [[exactJaccardPairs]]; the
    * string-array intersect re-hashed ~|set| strings per pair.
    */
  def exactJaccardScores(
      df: DataFrame,
      idCol: String,
      textCol: String,
      pairs: DataFrame,
      n: Int = 3,
      cacheSets: Boolean = false): DataFrame = {
    // cacheSets: the sorted-hash frame feeds BOTH join sides (id_a,
    // id_b) and otherwise computes twice. Opt-in because the
    // materialization is ~|docs| x |set| longs — right when `df` is
    // already pruned to candidate docs (the incremental ingest paths),
    // wrong for a full-corpus pass
    // scale-adaptive fan-out, same rationale as [[exactJaccardPairs]]:
    // the per-doc set build otherwise runs inside a few-row-group scan
    // stage on one core; no-op on warehouse-scale inputs
    val sets0 = graft.ops.Ops.fanOutForCompute(
      df.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol),
        sort_array(transform(graft.functions.HashFunctions.char_ngram_set(
          lower(trim(col(textCol))), n), g0 => xxhash64(g0))).as("__sh"))
    val sets = if (cacheSets) sets0.localCheckpoint(true) else sets0
    val setJaccard = {
      val inter = graft.functions.VectorFunctions
        .sorted_intersect_count(col("__sh_a"), col("__sh_b")).cast("double")
      inter / (size(col("__sh_a")) + size(col("__sh_b")) - inter)
    }
    pairs.select(col("id_a"), col("id_b"))
      .join(sets.select(col(idCol).as("id_a"), col("__sh").as("__sh_a")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("__sh").as("__sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), setJaccard.as("jaccard"))
  }

  /** EXACT Jaccard similarity self-join via prefix filtering (the
    * AllPairs/PPJoin family): returns ALL pairs with char-n-gram-set
    * Jaccard >= threshold — guaranteed recall, unlike the MinHash
    * two-phase form whose banding can miss ~10% of true pairs near the
    * threshold.
    *
    * Guarantee: if J(a,b) = i/(|a|+|b|-i) >= t then the overlap i >=
    * ceil(t*|a|) and i >= ceil(t*|b|); order every doc's gram set by a
    * GLOBAL total order and take each doc's first
    * |set| - ceil(t*|set|) + 1 grams ("prefix") — two docs with J >= t
    * must then share at least one prefix gram, so an equi-join on
    * prefix grams produces a candidate superset and the exact verify
    * keeps precisely the true pairs.
    *
    * Scale shape: the global order is ascending document frequency
    * (rarest first — the standard heuristic that makes prefixes
    * nearly-unique keys), so the candidate join shuffles (id, gram)
    * keyed by RARE grams: bucket sizes stay small and AQE can split
    * any residual hot gram. Cost is two scans (one to count gram
    * frequencies, one to rank) + one slim equi-join — no N^2 anywhere,
    * and the exact verify touches candidates only.
    */
  def exactJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.6,
      saltBuckets: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // scale-adaptive fan-out (guide §2): the n-gram set build chains
    // into the scan stage, so a few-row-group input serializes this
    // kernel's 3-4 corpus passes onto one core; a no-op whenever the
    // scan already spreads (any warehouse-scale input). Measured on
    // the bench corpus: shipped kernel 9.6-12.8 s -> 4.3-7.2 s.
    val sets = graft.ops.Ops.fanOutForCompute(
      df.select(col(idCol).as("id"), col(textCol).as("__txt")), col("id"))
      .select(col("id"),
        graft.functions.HashFunctions.char_ngram_set(
          lower(trim(col("__txt"))), n).as("__set"))
    val g = sets.select(col("id"), size(col("__set")).as("__sz"),
      explode(col("__set")).as("gram"))
    // document frequencies broadcast into the rank join, so the big
    // exploded gram stream never shuffles for the df lookup. This is
    // corpus-size-independent: the char-n-gram vocabulary is bounded
    // by |charset|^n (~857k for printable-ASCII trigrams), not by
    // document count. For large n or CJK-heavy corpora where the
    // vocabulary outgrows broadcast, drop the hint (plain shuffle
    // join) — correctness is unaffected.
    val freq = broadcast(g.groupBy("gram").agg(count(lit(1)).as("__df")))
    // rank each doc's grams by (global df asc, gram) — any shared total
    // order is CORRECT; rarity-first is what keeps the join slim
    val ranked = g.join(freq, "gram")
      .withColumn("__r", row_number().over(
        Window.partitionBy("id").orderBy(col("__df"), col("gram"))))
    // the candidate join needs gram EQUALITY, not the gram itself:
    // carry the 64-bit hash instead of the string (guide §2.3,
    // narrower shuffle keys; a cross-gram hash collision only adds a
    // candidate the exact verify drops, so results are unchanged)
    val prefix = ranked
      .filter(col("__r") <= col("__sz") - ceil(lit(threshold) * col("__sz")) + 1)
      .select(col("id"), xxhash64(col("gram")).as("__gh"), col("__sz"),
        col("__r"))
    // candidate generation with the classic AllPairs/PPJoin prunes,
    // BOTH applied map-side before the pair rows ever shuffle:
    //  - size filter: J >= t forces t*|a| <= |b| <= |a|/t;
    //  - positional filter: a shared gram at prefix positions (ra, rb)
    //    bounds the total overlap by 1 + min(|a|-ra, |b|-rb), which
    //    must reach ceil(t/(1+t) * (|a|+|b|)).
    // On a template-dense corpus these prune the quadratic family
    // blow-up by ~3x before the distinct.
    val tOver1t = threshold / (1.0 + threshold)
    // SALTED self-join: a hot gram (one shared by n_g docs) generates
    // n_g^2 candidate rows, all in the single task owning that gram's
    // hash bucket — the same custom-exchange skew ceiling the chunked
    // as-of join fixes. Salting the probe side spreads each gram's
    // quadratic output across `saltBuckets` tasks (the build side is
    // replicated saltBuckets times — slim 30 B rows, bounded cost).
    // Size it toward spark.sql.shuffle.partitions on a real cluster.
    val cands = graft.ops.Ops.saltedJoin(
      prefix.select(col("id").as("id_a"), col("__gh"),
        col("__sz").as("__sza"), col("__r").as("__ra")),
      prefix.select(col("id").as("id_b"), col("__gh"),
        col("__sz").as("__szb"), col("__r").as("__rb")),
      Seq("__gh"), saltBuckets)
      .filter(col("id_a") < col("id_b"))
      .filter(col("__szb") >= ceil(lit(threshold) * col("__sza")) &&
        col("__sza") >= ceil(lit(threshold) * col("__szb")))
      .filter(lit(1) + least(col("__sza") - col("__ra"),
          col("__szb") - col("__rb")) >=
        ceil(lit(tOver1t) * (col("__sza") + col("__szb"))))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // exact verify on SORTED 64-BIT GRAM HASHES (one codegen merge
    // scan per pair) instead of string-array intersection — the string
    // form re-hashes ~|set| strings per candidate and dominated
    // wall-clock ~20:1 on dense corpora. A 64-bit collision inside one
    // document's <=few-thousand-gram set (probability ~ |set|^2/2^64
    // per doc) is the only way this differs from exact string Jaccard.
    val hsets = sets.select(col("id"),
      sort_array(transform(col("__set"), g0 => xxhash64(g0))).as("__h"))
    val jac = {
      val inter = graft.functions.VectorFunctions
        .sorted_intersect_count(col("__ha"), col("__hb")).cast("double")
      inter / (size(col("__ha")) + size(col("__hb")) - inter)
    }
    cands
      .join(hsets.select(col("id").as("id_a"), col("__h").as("__ha")), Seq("id_a"))
      .join(hsets.select(col("id").as("id_b"), col("__h").as("__hb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), jac.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Benchmark decontamination scores: for every corpus document, the
    * fraction of its distinct word k-grams that appear anywhere in an
    * evaluation set — the standard train/test-overlap check run before
    * training (flag/drop docs whose score exceeds a threshold).
    *
    * Scale shape: the EVAL side is small by definition (benchmarks are
    * thousands of docs, not billions), so its distinct-gram set
    * broadcasts and the corpus-side membership probe is a map-side
    * broadcast join — ONE scan of the corpus, no corpus shuffle except
    * the per-doc count aggregation (partial, slim keys). For eval sets
    * too big to broadcast exactly, use [[contaminationScoresBloom]] —
    * same result, bloom-pruned shuffle join instead of broadcast.
    *
    * Returns (id, n_grams, n_hits, contamination) for every corpus
    * doc; contamination = n_hits / n_grams in [0, 1].
    */
  /** The distinct word-k-gram set of a document table — the shared
    * eval-side build for every contamination path (batch, bloom,
    * streaming).
    */
  private[graft] def distinctGrams(
      docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs.select(explode(array_distinct(
      wordShingles(col(textCol), k))).as("gram")).distinct()

  def contaminationScores(
      corpus: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8): DataFrame = {
    val evalGrams = distinctGrams(evalDocs, textCol, k)
    // ONE corpus pass: the hit flag is attached map-side by a broadcast
    // LEFT OUTER probe (evalGrams is distinct, so cardinality is
    // preserved) and both counts fold into a single partial-aggregated
    // groupBy — vs the two-branch form, this halves the corpus
    // scans/explodes and drops the final n_grams⋈n_hits join entirely.
    val flagged = graft.ops.Ops.fanOutForCompute(
        corpus.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol),
        explode(array_distinct(wordShingles(col(textCol), k))).as("gram"))
      .join(broadcast(evalGrams.withColumn("__hit", lit(1))),
        Seq("gram"), "left_outer")
    flagged.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        count(col("__hit")).as("n_hits"))
      .select(col(idCol),
        col("n_grams"),
        col("n_hits"),
        (col("n_hits").cast("double") / col("n_grams"))
          .as("contamination"))
  }

  /** Multi-benchmark decontamination: score every corpus document
    * against S eval sets simultaneously. `evalSets` carries
    * (setCol, textCol); each set's distinct grams are tagged with the
    * set id and the union of tagged gram tables rides a single
    * broadcast, so the whole eval SUITE costs two corpus gram passes
    * (per-(doc, set) hits + per-doc totals) — vs S full passes for S
    * separate [[contaminationScores]] runs. The broadcast grows with
    * the eval suite (KB-to-MB scale); past the broadcast cap the
    * bloom prefilter composes the same way. A gram shared by several
    * sets counts toward each (the inner join fans out per matching
    * set). Output: one row per (doc, set) WITH at least one hit —
    * sparse by design; a doc absent for a set has contamination 0
    * there.
    */
  def multiSetContaminationScores(
      corpus: DataFrame,
      evalSets: DataFrame,
      idCol: String,
      setCol: String,
      textCol: String,
      k: Int = 8): DataFrame = {
    val evalGrams = evalSets
      .select(col(setCol).as("__set"),
        explode(array_distinct(wordShingles(col(textCol), k))).as("gram"))
      .distinct()
    val grams = graft.ops.Ops.fanOutForCompute(
        corpus.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol),
        explode(array_distinct(wordShingles(col(textCol), k))).as("gram"))
    val totals = grams.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"))
    grams
      .join(broadcast(evalGrams), Seq("gram"))
      .groupBy(col(idCol), col("__set").as("eval_set"))
      .agg(count(lit(1)).as("n_hits"))
      .join(totals, Seq(idCol))
      .select(col(idCol), col("eval_set"), col("n_grams"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_grams"))
          .as("contamination"))
  }

  /** Auto-dispatching decontamination: [[contaminationScores]] when
    * the eval side is safely broadcast-able, [[contaminationScoresBloom]]
    * when it is not — same result either way (the bloom path is
    * row-identical by construction; DedupSpec asserts it), so callers
    * never have to know the eval set's size up front.
    *
    * The dispatch estimate is a single pre-distinct pass over the
    * EVAL side only (sum of per-doc gram counts — a partial-aggregated
    * global sum, no shuffle of gram strings, never touches the
    * corpus): an upper bound on the distinct gram count, so the
    * broadcast path is only ever chosen when the true distinct count
    * also fits. Threshold rationale: a word-8-gram averages ~60 chars
    * ≈ ~100 B on the heap with object overhead, so the default
    * 2M-gram cap bounds the broadcast at ~200 MB — inside a healthy
    * executor/driver budget, far past `autoBroadcastJoinThreshold`
    * territory where a silent OOM would hide. Past the cap, the bloom
    * blob is sized at ~10 bits/gram (fpp ≈ 1%) rounded up to a power
    * of two, capped at 2^30 bits = 128 MB.
    */
  def contaminationScoresAuto(
      corpus: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      maxBroadcastGrams: Long = 2L * 1000 * 1000): DataFrame = {
    val estGrams = evalDocs
      .agg(sum(size(wordShingles(col(textCol), k))))
      .head() match {
        case r if r.isNullAt(0) => 0L // empty eval set
        case r => r.getLong(0)
      }
    if (estGrams <= maxBroadcastGrams)
      contaminationScores(corpus, evalDocs, idCol, textCol, k)
    else {
      val bloomBits = math.min(1L << 30,
        java.lang.Long.highestOneBit(math.max(1L, estGrams * 10L) * 2 - 1)
      ).toInt
      contaminationScoresBloom(corpus, evalDocs, idCol, textCol, k,
        bloomBits = math.max(bloomBits, 1 << 20))
    }
  }

  /** [[contaminationScores]] for eval sets too big to broadcast as an
    * exact string set: the corpus gram stream is pre-filtered by a
    * bloom of the eval grams (a fixed-size blob regardless of eval
    * cardinality, injected as a LITERAL so the probe stays a
    * scan-adjacent codegen filter — the bf1 pattern), and only
    * bloom-surviving grams (~true hits + fpp) reach the exact
    * SHUFFLE semi-join that removes false positives. No false
    * negatives, so the result is row-identical to
    * [[contaminationScores]] (asserted in DedupSpec); the bloom only
    * tunes how many corpus grams shuffle.
    */
  def contaminationScoresBloom(
      corpus: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bloomBits: Int = 1 << 20,
      bloomHashes: Int = 7): DataFrame = {
    import graft.functions.BloomFunctions._
    val evalGrams = distinctGrams(evalDocs, textCol, k)
    // one small job over the (distinct) eval grams builds the blob;
    // bounded by bloomBits/8 bytes on the driver
    val blob = evalGrams
      .agg(bloom_agg(xxhash64(col("gram")), bloomBits, bloomHashes))
      .head().getAs[Array[Byte]](0)
    val grams = graft.ops.Ops.fanOutForCompute(
        corpus.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol),
        explode(array_distinct(wordShingles(col(textCol), k))).as("gram"))
    val hits = grams
      .filter(might_contain(lit(blob), xxhash64(col("gram"))))
      .join(evalGrams, Seq("gram"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
    grams.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        col("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_grams"))
          .as("contamination"))
  }

  // -------------------------------------------------------------------
  // Exact shared-span detection (substring-level duplication)
  // -------------------------------------------------------------------

  /** Every document pair sharing at least one exact k-token span, with
    * the count of distinct shared spans — the substring-level
    * duplication signal (docs that are NOT near-duplicates overall can
    * still share long verbatim passages: quoted boilerplate, license
    * headers, copied paragraphs), the gram-level form of
    * suffix-array substring dedup for training corpora.
    *
    * Scale shape: spans never ride a shuffle — each doc's distinct
    * k-token spans are digested to sha2 map-side and only (digest, id)
    * moves (the dd1 exact-dedup recipe, applied per span instead of
    * per doc). Span buckets are capped at `maxDocsPerSpan` docs: a
    * span shared by more documents than the cap is boilerplate (a
    * template/license fragment), which would blow the pair explode
    * quadratically while telling you nothing pairwise — that regime
    * belongs to frequency analysis (t8) / template mining, and the cap
    * makes the worst-case pair fan-out a documented constant
    * (cap^2/2 per bucket).
    *
    * Returns (id_a, id_b, n_shared_spans), id_a < id_b.
    */
  def sharedSpanPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      maxDocsPerSpan: Int = 64): DataFrame = {
    val spans = graft.ops.Ops.fanOutForCompute(
        df.select(col(idCol).as("id"), col(textCol).as("__txt")), col("id"))
      .select(col("id"),
        explode(array_distinct(wordShingles(col("__txt"), k))).as("span"))
      .select(col("id"), sha2(col("span"), 256).as("h"))
    val buckets = spans.groupBy(col("h"))
      .agg(collect_set(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxDocsPerSpan))
    buckets
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared_spans"))
  }

  /** Duplicate-span EXCISION — the cleanup counterpart of
    * [[sharedSpanPairs]]'s detection, i.e. the "deduplicating training
    * data" substring-removal recipe (remove every repeated verbatim
    * k-word span from all but its first occurrence) re-expressed as
    * relational passes instead of a monolithic suffix array:
    *
    *  1. every k-word span occurrence (doc, start position, sha-256
    *     span digest — dd7/dd12's digest trick: the shuffle moves a
    *     fixed-width key, never span text);
    *  2. one groupBy(digest) with map-side partial `count` +
    *     `min(struct(doc, pos))` picks the CANONICAL occurrence
    *     (global (doc_id, pos) minimum) of every duplicated span;
    *  3. every non-canonical occurrence of a duplicated span marks its
    *     k covered word positions; a word survives iff no excised span
    *     covers it (left_anti on (doc, pos));
    *  4. surviving words reassemble per doc in position order.
    *
    * Overlap semantics: covered positions are a UNION — overlapping
    * duplicated spans excise together, and a canonical occurrence can
    * still lose words to a DIFFERENT span's excision (exactly how
    * span-level removal behaves in the suffix-array formulation).
    * Docs shorter than k words carry no spans and pass through whole.
    *
    * Scale shape: two O(corpus tokens) shuffles (span digests into the
    * groupBy; word rows into the anti-join/reassembly) plus the small
    * excised-position stream — no all-pairs step anywhere, no window
    * over a row-scaling domain, and the span-stats aggregate is
    * partial-aggregable on both measures. Every stage is linear in
    * corpus size, so the plan survives 100× unchanged.
    *
    * Returns (id, clean_text, n_removed) for EVERY input doc.
    */
  def spanExciseClean(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8): DataFrame = {
    require(k >= 2, s"span width must be >= 2 words, got $k")
    val toks = graft.ops.Ops.fanOutForCompute(
        df.select(col(idCol).as("id"), col(textCol).as("__txt")), col("id"))
      .select(col("id"), tokens(col("__txt")).as("ts"))
      .select(col("id"), col("ts"), size(col("ts")).as("nw"))
    val words = toks.select(col("id"),
      posexplode(col("ts")).as(Seq("pos", "word")))
    // posexplode index j = 0-based span start (slice start j+1)
    val spans = toks.filter(col("nw") >= k)
      .select(col("id"), posexplode(transform(
        sequence(lit(1), col("nw") - (k - 1)),
        i => sha2(concat_ws(" ", slice(col("ts"), i, lit(k))), 256)))
        .as(Seq("p", "h")))
    val dupStats = spans.groupBy(col("h"))
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("id"), col("p"))).as("first"))
      .filter(col("cnt") > 1)
    val excised = spans.join(dupStats, "h")
      .filter(!(col("id") === col("first.id") && col("p") === col("first.p")))
    val covered = excised
      .select(col("id"),
        explode(sequence(col("p"), col("p") + (k - 1))).as("pos"))
      .distinct()
    val rebuilt = words.join(covered, Seq("id", "pos"), "left_anti")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("word")))),
          s => s.getField("word")), " ").as("clean_text"))
    toks.select(col("id"), col("nw"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("nw") - coalesce(col("n_kept"), lit(0L))).cast("int")
          .as("n_removed"))
  }

  // -------------------------------------------------------------------
  // Embedding-cosine near-dup
  // -------------------------------------------------------------------

  /** Near-dup pairs with cosine >= threshold, candidates from
    * random-hyperplane LSH buckets (exact cosine verified on
    * candidates). Multi-table OR-amplification for recall.
    *
    * Scale shape: ONE scan computes all `tables` bucket ids per row
    * (posexplode of a plan-time-unrolled array — not `tables` unioned
    * scans); the self-join moves only (id, table, bucket) — 20 B/row —
    * never the embedding; vectors are joined back keyed by id for the
    * DISTINCT candidate pairs only, so each pair's cosine is computed
    * exactly once and the wide columns never ride a band shuffle.
    */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      dim: Int = 64,
      bits: Int = 8,
      tables: Int = 4): DataFrame = {
    // fan-out below the bucket projections: `tables` x `bits` dot
    // products per vector otherwise run single-core inside a
    // few-row-group scan (guide §2; no-op at warehouse scale)
    val spread = graft.ops.Ops.fanOutForCompute(
      df.select(col(idCol).as("id"), col(vecCol).as("__v")), col("id"))
    val buckets = (0 until tables).map { t =>
      Similarity.bucketExpr(col("__v"), Similarity.hyperplanes(dim, bits, t))
    }
    val keyed = spread.select(col("id"),
        posexplode(array(buckets: _*)))
      .withColumnRenamed("pos", "table")
      .withColumnRenamed("col", "bucket")

    val pairs = keyed.select(col("id").as("id_a"), col("table"), col("bucket"))
      .join(keyed.select(col("id").as("id_b"), col("table"), col("bucket")),
        Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()

    pairs
      .join(df.select(col(idCol).as("id_a"), col(vecCol).as("vec_a")), Seq("id_a"))
      .join(df.select(col(idCol).as("id_b"), col(vecCol).as("vec_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("vec_a"), col("vec_b")).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
