package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-cleaning batch: winnowing fingerprint selection (the MOSS
  * local-fingerprinting scheme — the guaranteed-coverage alternative
  * to t4's stride sampling), paragraph-level keep-first exact dedup
  * (the MassiveText/Gopher recipe, here over fixed word chunks since
  * the synthetic corpus has no newlines), and the source-overlap
  * matrix (shared distinct chunks per source pair — the contamination
  * heat-map a curator reads before mixing sources).
  *
  * All three are EXACT and seed-free: the only hash is md5, which
  * both engines compute identically over UTF-8, so every query here
  * is fully two-engine checkable (unlike the seeded xxhash64 dd
  * family, which carries recall gates instead).
  */
object Clean extends QueryModule {

  /** Winnowing gram length (chars) and window (grams): every window
    * of W consecutive K-grams contributes >= 1 selected fingerprint
    * (the coverage guarantee), expected density 2/(W+1).
    */
  private val K = 8
  private val W = 4

  /** Chunk size (words) for the paragraph-dedup family. */
  private val CS = 10

  /** Winnowing fingerprints (Schleimer, Schwarzik & Aiken, SIGMOD'03):
    * per document, hash every K-char gram, slide a W-gram window, and
    * select the window minimum — rightmost on hash ties (the "robust
    * winnowing" rule), encoded by ordering on
    * `md5(gram) || zeropad(1e8 - pos)` so the plain string MIN picks
    * min-hash-then-max-pos. Output: one row per distinct selected
    * (hash, pos).
    *
    * Scale shape: the whole selection runs INSIDE the row — the
    * native [[graft.functions.WinnowExpressions]] expression does one
    * monotonic-deque pass per document (O(G) digests + O(G) deque
    * ops). Zero shuffles, zero state: 100 TB of documents winnow as a
    * pure map over the corpus. Deliberately NOT a HOF composition:
    * the precompute-the-key-array form gets its array inlined into
    * the window lambda by CollapseProject, where the interpreted HOF
    * path re-evaluates all G keys per window start — O(G²) digests,
    * measured 255 s; even the inline-W-keys HOF form pays per-element
    * expression-tree dispatch (45 s over 5k docs) where the native
    * loop runs in ~1 s.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String,
      textCol: String, k: Int = K, w: Int = W): DataFrame =
    // fan-out below the winnow projection: the O(G) digest+deque pass
    // per doc otherwise runs single-core inside a few-row-group scan
    // (guide §2; no-op at warehouse scale). The map-over-the-corpus
    // scale shape is unchanged — the guard never fires on a wide scan
    graft.ops.Ops.fanOutForCompute(
        docs.select(col(idCol).as("doc_id"),
          lower(trim(col(textCol))).as("s")), col("doc_id"))
      .select(col("doc_id"),
        explode(graft.functions.WinnowExpressions
          .winnow_keys(col("s"), k, w)).as("key"))
      .select(col("doc_id"), substring(col("key"), 1, 32).as("h"),
        (lit(100000000) - substring(col("key"), 33, 8).cast("int"))
          .cast("long").as("pos"))

  /** win1: per-document winnowing fingerprint profile — how many
    * fingerprints were selected, how many distinct hashes, and how
    * many of those hashes some OTHER document also selected (the
    * MOSS similarity signal). Sharing uses nov1's one-shuffle trick:
    * distinct (doc, h) pairs get the hash's doc-frequency from a
    * window over the h partition — the stream shuffles once, no
    * self-join build side.
    */
  def win1Winnowing(s: SparkSession, d: String): DataFrame =
    win1WinnowingOn(Tables.documents(s, d))

  def win1WinnowingOn(docs: DataFrame): DataFrame = {
    val fp = winnowFingerprints(docs, "doc_id", "text")
    // ONE pass over the (expensive) winnow projection: roll selections
    // up to (doc, h) counts, hang the hash's doc-frequency on each row
    // from a window over the h partition, then roll up per doc. The
    // two-branch aggregate-and-rejoin form evaluates the O(G·W)
    // digest projection twice.
    fp.groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("n_sel"))
      .withColumn("n_docs", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_sel")).as("n_fp"),
        count(lit(1)).as("n_hashes"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_fp"), col("n_hashes"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_hashes"), 6)
          .cast("decimal(18,6)").cast("double").as("shared_frac"))
  }

  /** win2: the MOSS match step — near-dup pairs by winnowing
    * fingerprint overlap. Distinct (doc, hash) selections are
    * boilerplate-capped (hashes in more than `dfCap` docs are
    * dropped, MOSS's "ignore fingerprints in too many submissions"),
    * then self-joined on the hash; pairs sharing >= `minShared`
    * hashes emit with an overlap score m / min(|A|, |B|). The
    * EXACT-reproducible complement of the seeded sketch families:
    * md5 winnowing is deterministic, so this near-dup detector is
    * fully two-engine checkable where dd2-dd5 carry recall gates.
    *
    * Scale shape: the df cap is also the skew cap — each surviving
    * hash contributes <= C(dfCap, 2) pairs, so the join output is
    * linear in the corpus and no hot hash melts a partition. Both
    * windows are partitioned (by h, then by doc). The capped
    * fingerprint frame materializes ONCE (eager localCheckpoint —
    * the self-join would otherwise re-run the whole winnow +
    * distinct + window chain per side: the r17 plan dump showed the
    * broadcast side as a full recompute, ReuseExchange never fires
    * across a BroadcastExchange/shuffle pair).
    */
  def win2WinnowPairs(s: SparkSession, d: String,
      dfCap: Int = 16, minShared: Int = 5): DataFrame =
    win2WinnowPairsOn(Tables.documents(s, d), dfCap, minShared)

  def win2WinnowPairsOn(docs: DataFrame,
      dfCap: Int = 16, minShared: Int = 5): DataFrame = {
    val fp = winnowFingerprints(docs, "doc_id", "text")
    val dh = fp.select(col("doc_id"), col("h")).distinct()
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("df") <= dfCap)
      .withColumn("nh",
        count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .select(col("doc_id"), col("h"), col("nh"))
      .localCheckpoint(true)
    dh.as("a").join(dh.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.nh").as("nh_a"), col("b.nh").as("nh_b"))
      .agg(count(lit(1)).as("m"))
      .filter(col("m") >= minShared)
      .select(col("id_a"), col("id_b"), col("m"),
        round(col("m").cast("double") / least(col("nh_a"), col("nh_b")), 6)
          .cast("decimal(18,6)").cast("double").as("score"))
  }

  /** dd20: the TWO-TIER exact near-dup join — winnowing-fingerprint
    * candidate generation (df-capped, the win2 machinery) in front of
    * the exact trigram-Jaccard verify ([[graft.dedup.Dedup
    * .exactJaccardScores]]'s merge-scan kernel). This is dd7's scale
    * tier: the prefix-filter join's candidate volume grows
    * super-linearly on template-dense corpora (measured 1.21 on the
    * sf0.1→sf1rep decade), while winnow candidates are bounded —
    * each surviving hash contributes <= C(dfCap, 2) pairs, so
    * candidate volume is linear in the corpus by construction and
    * the exact verify touches candidates only.
    *
    * Semantics: pairs sharing >= 1 boilerplate-capped winnow
    * fingerprint AND exact char-trigram Jaccard >= threshold. The
    * fingerprint gate is part of the operator's contract (shared-
    * substring evidence of length >= w+k-1 = 11 chars; docs shorter
    * than k+w-1 grams select nothing and never pair) — deterministic
    * md5 winnowing, so the WHOLE two-tier pipeline is two-engine
    * checkable, unlike the seeded sketch tiers. Hot-template pairs
    * whose every fingerprint exceeds dfCap are silenced BY DESIGN
    * (MOSS's rule; the df cap is the skew cap) — a curator who wants
    * those exact pairs runs dd7 on the residue.
    */
  def tieredNearDupPairsOn(docs: DataFrame, threshold: Double = 0.8,
      dfCap: Int = 16): DataFrame = {
    val cands = winnowCandidatesOn(docs, "doc_id", "text", dfCap)
    graft.dedup.Dedup.exactJaccardScores(docs, "doc_id", "text", cands)
      .filter(col("jaccard") >= threshold)
  }

  /** The winnow CANDIDATE stage of [[tieredNearDupPairsOn]] on its
    * own — df-capped shared-fingerprint pairs (id_a < id_b), exposed
    * so composed operators (mm6's cross-modal gate) can intersect
    * text candidacy with another modality's before any exact verify.
    */
  private[graft] def winnowCandidatesOn(docs: DataFrame, idCol: String,
      textCol: String, dfCap: Int = 16): DataFrame = {
    val fp = winnowFingerprints(docs, idCol, textCol)
    // capped distinct (doc, hash) selections, materialized ONCE (the
    // win2 lesson: the self-join would recompute the winnow chain per
    // side); at warehouse scale this boundary is the parquet seam
    val dh = fp.select(col("doc_id"), col("h")).distinct()
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("df") <= dfCap)
      .select(col("doc_id"), col("h"))
      .localCheckpoint(true)
    dh.as("a").join(dh.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  def dd20TieredNearDup(s: SparkSession, d: String): DataFrame =
    TruthSets.tieredNearDupPairs(s, d)

  // ---- dd25: auto-dispatching near-dup (exact vs tiered) --------------

  /** Default dispatch threshold for [[nearDupAutoOn]], in ESTIMATED
    * exact-tier candidate pairs ([[exactTierCandidateEstimate]]).
    * Calibrated against measured walls on this corpus family
    * (BASELINE.md / PROBE_scale): at estimate ≈ 1.1e9 (sf0.1) the
    * exact prefix-filter join reads 7.7 s where the tiered gate reads
    * 4.4 s — the tiered tier is ALREADY cheaper; at ≈ 1.1e11 (sf1rep)
    * it is 146.5 s vs 8.4–10.9 s. 1e8 sits below the measured
    * crossover, so the exact tier — with its strictly stronger recall
    * contract — is only chosen where it is also the cheaper plan.
    */
  val DefaultMaxExactCandidates: Long = 100L * 1000 * 1000

  /** The dispatch statistic: Σ_gram C(df, 2) over the corpus's
    * distinct char-`n`-gram document frequencies — an upper bound on
    * the exact AllPairs tier's candidate-join volume (prefix/size/
    * positional pruning only shrink it) and the quantity that
    * actually melts that tier on template-dense corpora (dd7's
    * measured 1.21 tail decade rides exactly this sum). One narrow
    * aggregate: explode distinct grams, partial-aggregated df count,
    * exact integer sum — both engines compute the identical number,
    * so the DISPATCH DECISION itself is replayed by the DuckDB
    * oracle, not just the chosen tier's rows. Decimal accumulation:
    * df ~ 1e10 at warehouse scale puts df² past long range.
    */
  def exactTierCandidateEstimate(docs: DataFrame, n: Int = 3): Long = {
    val r = docs.select(explode(graft.functions.HashFunctions
        .char_ngram_set(lower(trim(col("text"))), n)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .agg(sum((col("df").cast("decimal(38,0)") * (col("df") - 1))
        .cast("decimal(38,0)")).as("s2"))
      .head()
    if (r.isNullAt(0)) 0L
    else {
      val est = r.getDecimal(0).toBigInteger
        .divide(java.math.BigInteger.TWO)
      if (est.bitLength >= 63) Long.MaxValue else est.longValueExact()
    }
  }

  /** dd25: the AUTO-DISPATCHING near-dup front door — the dd11
    * pattern for the dd7-vs-dd20 tier choice. One corpus statistic
    * ([[exactTierCandidateEstimate]], or a caller-supplied profile
    * number) picks the exact AllPairs tier
    * ([[graft.dedup.Dedup.exactJaccardPairs]]: guaranteed recall,
    * super-linear candidate growth on template-dense corpora) while
    * its estimated candidate volume stays under
    * `maxExactCandidates`, and the tiered winnow gate
    * ([[tieredNearDupPairsOn]]: df-capped linear candidates, the
    * documented fingerprint-gate contract) past it.
    *
    * Contract note — the tiers are NOT row-identical by design: the
    * tiered gate silences pairs whose every shared fingerprint is
    * boilerplate-hot (MOSS's rule, dd20's documented semantics). The
    * dispatcher is for the curator who accepts dd20's contract at
    * scale and gets the strictly-stronger exact recall for free
    * whenever the corpus is small enough that it costs nothing.
    * CleanSpec proves the flip on a corpus where the tiers demonstrably
    * differ; the dd25 oracle replays the dispatch statistic AND both
    * branches in DuckDB, so the driver checks whichever tier is
    * picked at each scale.
    */
  /** The dispatch decision [[nearDupAutoOn]] made, surfaced to the
    * caller: which tier served the call and the statistic that chose
    * it. A corpus growing past `maxExactCandidates` silently flips the
    * emitted pair set from exact-recall to the boilerplate-silencing
    * tiered contract — operators need a runtime signal to detect the
    * crossing between runs, not just the changed rows.
    */
  final case class NearDupDispatch(
      tier: String, estimate: Long, maxExactCandidates: Long)

  private val dispatchLog = org.slf4j.LoggerFactory.getLogger("graft.queries.Clean")

  /** The one log line every dispatch face emits (batch and streaming)
    * — named fields, and the cap labeled as what it is (NOT
    * "threshold", which this operator family already uses for the
    * Jaccard similarity bound).
    */
  private[graft] def logNearDupDispatch(
      caller: String, d: NearDupDispatch): Unit =
    dispatchLog.info(
      "{} dispatch: tier={} estimate={} max_exact_candidates={}",
      caller, d.tier, d.estimate, d.maxExactCandidates)

  def nearDupAutoOn(docs: DataFrame, threshold: Double = 0.8,
      dfCap: Int = 16,
      maxExactCandidates: Long = DefaultMaxExactCandidates,
      knownCandidateEstimate: Option[Long] = None,
      onDispatch: NearDupDispatch => Unit = _ => ()): DataFrame = {
    val est = knownCandidateEstimate
      .getOrElse(exactTierCandidateEstimate(docs))
    val tier = if (est <= maxExactCandidates) "exact" else "tiered"
    logNearDupDispatch("nearDupAutoOn",
      NearDupDispatch(tier, est, maxExactCandidates))
    onDispatch(NearDupDispatch(tier, est, maxExactCandidates))
    if (tier == "exact")
      graft.dedup.Dedup.exactJaccardPairs(docs, "doc_id", "text",
        threshold = threshold)
    else tieredNearDupPairsOn(docs, threshold, dfCap)
  }

  /** The dd25 query: [[nearDupAutoOn]]'s dispatch served from the
    * shared [[TruthSets]] materializations (both tiers' pair sets are
    * already the cached truth frames dd7/dd20 consume, so the
    * dispatcher adds only the estimate pass).
    */
  def dd25AutoNearDup(s: SparkSession, d: String): DataFrame = {
    val est = exactTierCandidateEstimate(Tables.documents(s, d))
    if (est <= DefaultMaxExactCandidates)
      TruthSets.exactJaccardPairs(s, d, threshold = 0.8)
    else TruthSets.tieredNearDupPairs(s, d)
  }

  /** dd21: cluster-keep at the SCALE tier — dd6's semantics (near-dup
    * pairs as edges, connected components as duplicate clusters, min
    * id survives) over [[tieredNearDupPairsOn]]'s two-tier pair set
    * instead of the exact prefix-filter join. dd6's pair phase
    * measured a 1.18 tail-decade exponent on the fixed-density
    * replica (it rides dd7's candidate growth); this operator rides
    * dd20's df-capped candidates (tail 0.17) into the same
    * star-contraction CC kernel, so the WHOLE cluster pipeline stays
    * ~linear. Deterministic md5 winnowing + exact verify + CC — the
    * full pipeline replays in the oracle (recursive CTE), like dd6.
    */
  /** dd23: INCREMENTAL tiered near-dup — the daily-ingest shape: a
    * NEW batch screened against the EXISTING corpus without ever
    * re-running all-pairs on the corpus. Candidate generation is
    * dd20's machinery split two-table: each side contributes its
    * capped distinct (doc, fingerprint) selections, the df cap
    * applies to the COMBINED document frequency (a hash hot across
    * base+fresh is boilerplate for the union, exactly as a batch
    * rerun over base∪fresh would see it), and only CROSS-side hash
    * matches become candidates — base×base pairs (already
    * adjudicated by the last full pass) and fresh×fresh pairs
    * (handled by the intra-batch dd20 on the new slice) never enter
    * the join. The exact merge-scan verify then scores candidates
    * only.
    *
    * 100 TB shape: the base side's capped selections are the
    * PERSISTED fingerprint index (computed once per full pass,
    * stored partitioned by h); each ingest computes fresh
    * fingerprints only — work per batch is O(batch + matches), not
    * O(corpus). The base-side df contribution comes from the stored
    * index; the streaming face of the same contract is
    * [[graft.streaming.StreamingDedup.streamingTieredNearDup]].
    *
    * Deterministic md5 winnow + exact Jaccard, so the whole
    * incremental gate is two-engine checkable. Output: one row per
    * (id_base, id_new) with exact trigram Jaccard >= threshold —
    * the rows an ingest pipeline uses to drop or link fresh docs.
    */
  /** Side-tagged capped (doc, fingerprint) selections under the
    * COMBINED document-frequency cap, materialized once — shared by
    * [[incrementalTieredPairsOn]] (cross candidates) and
    * [[incrementalClusterUpdateOn]] (cross + intra-fresh candidates).
    */
  private def sidedCappedSelections(base: DataFrame, fresh: DataFrame,
      dfCap: Int): DataFrame = {
    def sideSel(df: DataFrame, side: Int): DataFrame =
      winnowFingerprints(df, "doc_id", "text")
        .select(col("doc_id"), col("h")).distinct()
        .withColumn("side", lit(side))
    sideSel(base, 0).unionAll(sideSel(fresh, 1))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("df") <= dfCap)
      .select(col("doc_id"), col("h"), col("side"))
      .localCheckpoint(true)
  }

  def incrementalTieredPairsOn(base: DataFrame, fresh: DataFrame,
      threshold: Double = 0.8, dfCap: Int = 16): DataFrame = {
    val dh = sidedCappedSelections(base, fresh, dfCap)
    // materialized once — the frame feeds both the candidate-id prune
    // and the verify probe (the same two-consumer rule as the
    // persisted-index path's indexCandidates)
    val cands = dh.filter(col("side") === 0).as("b")
      .join(dh.filter(col("side") === 1).as("f"), col("b.h") === col("f.h"))
      .select(col("b.doc_id").as("id_a"), col("f.doc_id").as("id_b"))
      .distinct()
      .localCheckpoint(true)
    graft.dedup.Dedup
      .exactJaccardScores(
        pruneToCandidates(base.unionByName(fresh), cands),
        "doc_id", "text", cands, cacheSets = true)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a").as("id_base"), col("id_b").as("id_new"),
        col("jaccard"))
  }

  /** The verify-side corpus prune that makes the incremental forms'
    * O(batch + matches) claim REAL: `exactJaccardScores` builds each
    * doc's sorted gram-hash set BEFORE its join against the candidate
    * pairs, and an equi-join does not push an id filter into that
    * projection — so without this step every ingest paid the gram-set
    * build over the WHOLE corpus (measured: per-ingest 7.4–8.4 s vs
    * the 4.4 s full pass on the 50k-doc replica — worse than
    * rescanning). A left-semi against the broadcast candidate-id set
    * (bounded by O(batch + matches) ids — the df cap caps candidates
    * linearly) prunes the text scan to exactly the docs the verify
    * will touch.
    */
  private def pruneToCandidates(docs: DataFrame, cands: DataFrame): DataFrame =
    docs.join(
      hintIfSmall(cands.select(col("id_a").as("doc_id"))
        .unionAll(cands.select(col("id_b").as("doc_id"))).distinct()
        .localCheckpoint(true)),
      Seq("doc_id"), "left_semi")

  /** Broadcast guard for the ingest-path joins: the candidate-id /
    * surviving-hash frames are bounded by dfCap × |batch hashes| —
    * normally a few MB — but a template-dense batch can push them past
    * driver/broadcast limits, and an UNCONDITIONAL hint would then
    * fail the ingest instead of degrading to a shuffle join. The
    * frames are all eagerly checkpointed by the time they get here, so
    * the count is a cheap cached scan; past the cap the hint is simply
    * dropped and the planner (AQE auto-broadcast included) picks the
    * join strategy from real sizes.
    */
  private val BroadcastRowCap = 4L * 1000 * 1000
  private def hintIfSmall(checkpointed: DataFrame): DataFrame =
    if (checkpointed.count() <= BroadcastRowCap) broadcast(checkpointed)
    else checkpointed

  /** The fingerprint index the full pass persists: distinct
    * (doc_id, h) winnow selections — [[incrementalTieredPairsFrom]]'s
    * first argument. At warehouse scale this is a parquet table
    * partitioned/bucketed by h; here it is the frame the caller
    * stages.
    */
  def winnowIndexOf(docs: DataFrame): DataFrame =
    winnowFingerprints(docs, "doc_id", "text")
      .select(col("doc_id"), col("h")).distinct()

  /** The PERSISTED-INDEX form of [[incrementalTieredPairsOn]] — what
    * an ingest actually runs: `baseIndex` is the stored winnow index
    * of the corpus (built once by the last full pass, never
    * recomputed here), so per-ingest work touches (a) the fresh
    * batch's texts, (b) the index (narrow (doc_id, h) rows — the
    * per-hash dfs are one groupBy over it, no corpus TEXT scan), and
    * (c) base texts ONLY for candidate docs (the verify join prunes
    * the corpus scan to matched ids). Result is IDENTICAL to the
    * two-frame form — CleanSpec asserts it — because the combined
    * per-hash df is the same number either way.
    */
  def incrementalTieredPairsFrom(baseIndex: DataFrame, baseDocs: DataFrame,
      fresh: DataFrame, threshold: Double = 0.8,
      dfCap: Int = 16, baseDfs: Option[DataFrame] = None,
      freshIndex: Option[DataFrame] = None): DataFrame = {
    val (cands, _) =
      indexCandidates(baseIndex, fresh, dfCap, baseDfs, freshIndex)
    graft.dedup.Dedup
      .exactJaccardScores(
        pruneToCandidates(baseDocs.unionByName(fresh), cands),
        "doc_id", "text", cands.select(col("id_a"), col("id_b")),
        cacheSets = true)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a").as("id_base"), col("id_b").as("id_new"),
        col("jaccard"))
  }

  /** The per-hash document-frequency SUMMARY of an index — the second
    * persisted artifact of a full pass (alongside the (doc_id, h)
    * index itself): one (h, df) row per distinct fingerprint. With it,
    * an ingest's combined-df cap check is O(batch hashes) — the
    * summary is probed only at the fresh batch's hashes — instead of
    * re-aggregating the O(corpus) index every step. Maintain it with
    * [[dfSummaryAppend]].
    */
  def indexDfSummary(index: DataFrame): DataFrame =
    index.groupBy(col("h")).agg(count(lit(1)).as("df"))

  /** Fold a fresh batch's selections into the persisted df summary —
    * the summary-side twin of [[indexAppend]]. O(distinct hashes)
    * narrow rows; at warehouse scale a merge-on-h upsert. (The
    * batch's summary is also computed inside candidate generation;
    * the duplicate is one partial aggregation over the CHECKPOINTED
    * O(batch) fresh index — accepted over threading a fourth frame
    * through the public signatures.)
    */
  def dfSummaryAppend(summary: DataFrame, freshIndex: DataFrame): DataFrame =
    summary.unionByName(indexDfSummary(freshIndex))
      .groupBy(col("h")).agg(sum(col("df")).as("df"))

  /** Candidate generation against a stored index: combined per-hash
    * df = index df + batch df, cap applied to the sum; returns
    * (cross candidates tagged `cross`, plus intra-fresh candidates)
    * and the fresh selection frame (reused by callers).
    *
    * Scale shape — the per-ingest cost story (measured on the 50k-doc
    * replica, where the first cut shuffled the whole 2M-row index by
    * h TWICE per ingest and read SLOWER than a full pass):
    *  - only hashes PRESENT IN THE BATCH can mint candidates (cross
    *    needs h on both sides, intra is fresh-only), so the cap check
    *    probes the df source at the batch's hashes — with a persisted
    *    summary (`baseDfs`) that is O(batch hashes); without one the
    *    index is aggregated once (the derive cost, still one shuffle
    *    fewer than before);
    *  - the surviving hash set broadcasts (bounded by the batch's
    *    distinct hashes), so the index contributes matching rows via
    *    a broadcast-filtered SCAN — zero index shuffles, and matched
    *    volume is bounded by dfCap x |okH|;
    *  - the candidate frame materializes once (two consumers: the
    *    verify's id-prune broadcast and its probe side).
    */
  private def indexCandidates(baseIndex: DataFrame, fresh: DataFrame,
      dfCap: Int, baseDfs: Option[DataFrame] = None,
      freshIndex: Option[DataFrame] = None)
      : (DataFrame, DataFrame) = {
    val fi = freshIndex.getOrElse(winnowIndexOf(fresh).localCheckpoint(true))
    val dfs = baseDfs.getOrElse(indexDfSummary(baseIndex))
    // the cap probe must not shuffle the O(corpus) summary: a
    // left-outer from the small fresh side puts the big frame on the
    // non-broadcastable right (sort-merge, both sides shuffled every
    // ingest) — instead scan the summary ONCE with the fresh hashes
    // broadcast as the build side, and pick up batch-new hashes (no
    // base df at all) with a broadcast anti against the hit set
    val fiDfs = indexDfSummary(fi).withColumnRenamed("df", "df_f")
      .localCheckpoint(true)
    val hits = dfs.withColumnRenamed("df", "df_b")
      .join(hintIfSmall(fiDfs), Seq("h"))
      .localCheckpoint(true)
    val okH = hintIfSmall(
      hits.filter(col("df_f") + col("df_b") <= dfCap).select(col("h"))
        .unionAll(fiDfs
          .join(hintIfSmall(hits.select(col("h"))), Seq("h"), "left_anti")
          .filter(col("df_f") <= dfCap).select(col("h")))
        .localCheckpoint(true))
    val cappedBase = baseIndex.join(okH, Seq("h"))
    val cappedFresh = fi.join(okH, Seq("h"))
    val cross = cappedBase.select(col("doc_id").as("id_a"), col("h"))
      .join(cappedFresh.select(col("doc_id").as("id_b"), col("h")),
        Seq("h"))
      .select(col("id_a"), col("id_b"), lit(true).as("cross"))
    val intra = cappedFresh.as("x")
      .join(cappedFresh.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        lit(false).as("cross"))
    (cross.unionAll(intra).distinct().localCheckpoint(true), fi)
  }

  /** The PERSISTED-INDEX form of [[incrementalClusterUpdateOn]]:
    * `baseAssign` is the stored (node, component) assignment from the
    * last full pass and `baseIndex` its fingerprint index — neither
    * is recomputed, so the update's work is O(batch + matches) plus
    * the candidate-pruned base-text fetch. Identical output to the
    * two-frame form (CleanSpec).
    */
  def incrementalClusterUpdateFrom(baseIndex: DataFrame,
      baseAssign: DataFrame, baseDocs: DataFrame, fresh: DataFrame,
      threshold: Double = 0.8, dfCap: Int = 16,
      baseDfs: Option[DataFrame] = None): DataFrame =
    contractedCC(baseIndex, baseAssign, baseDocs, fresh, threshold, dfCap,
      baseDfs)
      .join(fresh.select(col("doc_id").as("node")), Seq("node"))
      .select(col("node").as("new_id"), col("component").as("cluster_id"))

  /** The contracted-graph CC shared by the routing and maintenance
    * faces: verified cross edges enter at the base doc's COMPONENT id
    * (super-node contraction), intra-fresh edges direct; CC runs over
    * super-nodes only — O(matches + batch) nodes. Returns
    * (node, component) where `node` ranges over TOUCHED base
    * component ids and fresh doc ids.
    */
  private def contractedCC(baseIndex: DataFrame, baseAssign: DataFrame,
      baseDocs: DataFrame, fresh: DataFrame, threshold: Double,
      dfCap: Int, baseDfs: Option[DataFrame] = None): DataFrame = {
    val (cands, _) = indexCandidates(baseIndex, fresh, dfCap, baseDfs)
    val verified = graft.dedup.Dedup
      .exactJaccardScores(
        pruneToCandidates(baseDocs.unionByName(fresh), cands),
        "doc_id", "text", cands.select(col("id_a"), col("id_b")),
        cacheSets = true)
      .filter(col("jaccard") >= threshold)
      .join(cands, Seq("id_a", "id_b"))
    val edges = verified.filter(col("cross"))
      .join(baseAssign.withColumnRenamed("node", "id_a"), Seq("id_a"),
        "left_outer")
      .select(coalesce(col("component"), col("id_a")).as("src"),
        col("id_b").as("dst"))
      .unionAll(verified.filter(!col("cross"))
        .select(col("id_a").as("src"), col("id_b").as("dst")))
    graft.graph.ConnectedComponents.run(edges, "src", "dst")
  }

  /** ASSIGNMENT MAINTENANCE — the full-assignment face of
    * [[incrementalClusterUpdateFrom]], making the K-step ingest loop
    * CHAINABLE: where the routing face returns fresh rows only (and a
    * fresh doc bridging two existing clusters would leave the stored
    * assignment internally inconsistent — the bridged cluster's old
    * rows still carry the stale label), this returns the WHOLE
    * updated (node, component) assignment: touched base components
    * are RELABELED through the contracted CC's component map (a
    * bridge merges labels to the global min — contraction preserves
    * min-id exactly), untouched rows pass through, and routed fresh
    * docs append. Per-ingest cost: the contracted CC (O(matches +
    * batch) super-nodes) plus one broadcast-sized relabel join over
    * the narrow assignment frame — never a corpus text scan, never a
    * corpus-wide CC. Feed the result back as the next ingest's
    * `baseAssign` (with [[indexAppend]] maintaining the index);
    * CleanSpec proves K chained updates == CC over the raw
    * accumulated edge store, and compaction + rebuild == the full
    * dd21 pass. Never-unmerge still holds: relabeling only MERGES
    * labels; retraction is [[compactPairs]] + rebuild's job.
    */
  def incrementalAssignmentUpdateFrom(baseIndex: DataFrame,
      baseAssign: DataFrame, baseDocs: DataFrame, fresh: DataFrame,
      threshold: Double = 0.8, dfCap: Int = 16,
      baseDfs: Option[DataFrame] = None): DataFrame = {
    val cc = contractedCC(baseIndex, baseAssign, baseDocs, fresh,
      threshold, dfCap, baseDfs).localCheckpoint(true)
    val relabel = cc
      .select(col("node").as("component"), col("component").as("__new"))
    val updatedBase = baseAssign.join(relabel, Seq("component"), "left_outer")
      .select(col("node"),
        coalesce(col("__new"), col("component")).as("component"))
    // unrouted fresh docs become their own singleton components — the
    // assignment is a FULL-corpus artifact (nearDupClusters' contract:
    // nodes with no pairs are singletons), so the chained result stays
    // comparable to CC-with-nodes over the accumulated edge store
    val freshRows = fresh.select(col("doc_id").as("node"))
      .join(cc, Seq("node"), "left_outer")
      .select(col("node"),
        coalesce(col("component"), col("node")).as("component"))
    updatedBase.unionByName(freshRows)
  }

  // ---- index lifecycle: append, compact, rebuild ----------------------

  /** Index MAINTENANCE — the step the persisted-index forms assume
    * but round 20 never committed: after an ingest adjudicates a
    * fresh batch, the batch's winnow selections are APPENDED to the
    * stored index so the NEXT ingest's combined-df cap sees them. At
    * warehouse scale this is an append of (doc_id, h) rows into the
    * h-partitioned index table (plus periodic small-file compaction
    * through the warehouse's usual parquet seam); skipping it is the
    * df-drift failure mode: batch K+1 would screen against document
    * frequencies frozen at the last full pass, admitting candidates a
    * full rerun would cap away. CleanSpec drives K successive ingests
    * through this append and proves the lifecycle equals one full
    * pass.
    */
  def indexAppend(index: DataFrame, fresh: DataFrame): DataFrame =
    index.unionByName(winnowIndexOf(fresh))

  /** Pair-set COMPACTION — the periodic step that restores EXACT
    * full-pass semantics to an incrementally maintained pair store.
    *
    * Incremental drift, quantified: a pair emitted at ingest step k
    * was gated by the df cap AS OF step k; a hash later pushed over
    * the cap by newer batches silences FUTURE candidates but cannot
    * retract the stored pair ([[incrementalClusterUpdateOn]]'s
    * documented "clusters never unmerge"). Because per-hash df only
    * GROWS, the stored pair set is always a SUPERSET of what a full
    * [[tieredNearDupPairsOn]] pass over the concatenated corpus
    * emits, and the excess is precisely the pairs whose every shared
    * fingerprint is now over the cap. Compaction removes exactly that
    * excess: regenerate the candidate relation from the CURRENT
    * capped index (bounded by C(dfCap, 2) pairs per hash — the same
    * linear bound as candidate generation) and semi-join the stored
    * pairs against it. No re-verify needed — Jaccard is pair-local
    * and already stored. CleanSpec proves K ingests + this compaction
    * == one full pass, including a fixture where a hash crosses the
    * cap mid-lifecycle and real pairs are retracted.
    *
    * `pairs` must carry `id_a < id_b` (the lifecycle's canonical
    * orientation) plus any payload columns, which ride through.
    */
  def compactPairs(pairs: DataFrame, index: DataFrame,
      dfCap: Int = 16, dfSummary: Option[DataFrame] = None): DataFrame = {
    // only the STORED pairs' docs matter: restrict the index to their
    // selections first (broadcast semi over O(store) ids — the store
    // is the adjudicated pair set, orders of magnitude smaller than
    // the corpus), then probe the df source at those hashes with a
    // broadcast — so compaction is two column-pruned SCANS (index,
    // summary) with zero index shuffles plus an O(store) self-join,
    // not the capped-index self-join of the whole corpus the first
    // cut paid (measured 9 s vs the 4.2 s full pass at the 50k-doc
    // replica; the store had 2.6k pairs)
    val storeIds = broadcast(
      pairs.select(col("id_a").as("doc_id"))
        .unionAll(pairs.select(col("id_b").as("doc_id")))
        .distinct().localCheckpoint(true))
    val storeSel = index.join(storeIds, Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    val dfs = dfSummary.getOrElse(indexDfSummary(index))
    val selOk = dfs.join(broadcast(storeSel), Seq("h"))
      .filter(col("df") <= dfCap)
      .select(col("doc_id"), col("h"))
      .localCheckpoint(true)
    val stillShared = selOk.select(col("doc_id").as("id_a"), col("h"))
      .join(selOk.select(col("doc_id").as("id_b"), col("h")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    pairs.join(stillShared, Seq("id_a", "id_b"), "left_semi")
  }

  /** The full ingest lifecycle over K batches, composed from the
    * committed pieces: one full pass on `base` (pairs + persisted
    * index), then per batch — cross+intra candidates against the
    * CURRENT index ([[incrementalTieredPairsFrom]], O(batch+matches)),
    * accumulate, APPEND the batch into the index
    * ([[indexAppend]]) — and finally [[compactPairs]] under the
    * end-state df. Result: exactly [[tieredNearDupPairsOn]] over the
    * concatenated corpus (the cap-monotonicity argument on
    * [[compactPairs]]; CleanSpec K=3 equality), while no step ever
    * re-paired the existing corpus. Returns the compacted
    * (id_a, id_b, jaccard) set; rebuild clusters from it with
    * [[graft.dedup.Dedup.nearDupClusters]] to restore full-pass dd21
    * semantics after the never-unmerge routing drift.
    */
  def ingestLifecyclePairs(base: DataFrame, batches: Seq[DataFrame],
      threshold: Double = 0.8, dfCap: Int = 16): DataFrame = {
    val (pairs, index, dfs) =
      ingestLifecycleRawWithDfs(base, batches, threshold, dfCap)
    // hand compaction the df summary the fold already MAINTAINS
    // (dfSummaryAppend is exact — CleanSpec's lifecycle equality rests
    // on it) instead of letting compactPairs re-aggregate the whole
    // O(corpus) index for the same numbers (guide §1.2: don't compute
    // things twice)
    compactPairs(pairs, index, dfCap, dfSummary = Some(dfs))
  }

  /** The lifecycle WITHOUT the final compaction — exposed so the spec
    * can assert the superset-then-exact contract. Returns the
    * accumulated pair store and the end-state index.
    */
  private[graft] def ingestLifecycleRaw(base: DataFrame,
      batches: Seq[DataFrame], threshold: Double,
      dfCap: Int): (DataFrame, DataFrame) = {
    val (pairs, index, _) =
      ingestLifecycleRawWithDfs(base, batches, threshold, dfCap)
    (pairs, index)
  }

  /** [[ingestLifecycleRaw]] plus the END-STATE df summary the fold
    * maintains — so the public lifecycle can compact against it
    * instead of re-aggregating the whole index.
    */
  private[graft] def ingestLifecycleRawWithDfs(base: DataFrame,
      batches: Seq[DataFrame], threshold: Double,
      dfCap: Int): (DataFrame, DataFrame, DataFrame) = {
    val basePairs = tieredNearDupPairsOn(base, threshold, dfCap)
    val baseIdx = winnowIndexOf(base).localCheckpoint(true)
    val init = (basePairs, baseIdx,
      indexDfSummary(baseIdx).localCheckpoint(true), base)
    val (pairs, index, dfsEnd, _) = batches.foldLeft(init) {
      case ((acc, idx, dfs, corpus), batch) =>
        val bIdx = winnowIndexOf(batch).localCheckpoint(true)
        val stepPairs = incrementalTieredPairsFrom(
            idx, corpus, batch, threshold, dfCap, baseDfs = Some(dfs),
            freshIndex = Some(bIdx))
          .select(least(col("id_base"), col("id_new")).as("id_a"),
            greatest(col("id_base"), col("id_new")).as("id_b"),
            col("jaccard"))
        // append as a CHECKPOINTED DELTA, never a rewrite of the whole
        // index: a warehouse parquet-appends O(batch) rows per ingest,
        // so the in-memory composition must match that cost shape —
        // checkpointing indexAppend's full result would copy the
        // entire index every step (O(corpus) per ingest, measured as
        // the dominant per-ingest wall at the 50k-doc replica). The df
        // summary is the one artifact maintained by REWRITE — it is
        // O(distinct hashes) narrow rows (a merge-on-h upsert at
        // warehouse scale), and carrying it is what keeps the cap
        // check off the O(corpus) index.
        (acc.unionByName(stepPairs),
          idx.unionByName(bIdx),
          dfSummaryAppend(dfs, bIdx).localCheckpoint(true),
          corpus.unionByName(batch))
    }
    (pairs, index, dfsEnd)
  }

  /** dd26: the lifecycle as a driver-visible two-engine row — base =
    * 5/8 of the corpus, three successive ingests of 1/8 each through
    * the persisted index, then compaction. Equal BY THE LIFECYCLE
    * CONTRACT to one full dd20 pass over all documents, so the oracle
    * is dd20's SQL verbatim: DuckDB replays the one-shot pipeline,
    * Spark replays the K-step ingest + append + compact — hash match
    * proves the lifecycle exactly reconstructs the full pass.
    */
  def dd26IndexLifecycle(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    ingestLifecyclePairs(
      docs.filter(pmod(col("doc_id"), lit(8)) < 5),
      (5 to 7).map(k => docs.filter(pmod(col("doc_id"), lit(8)) === k)))
  }

  /** dd24: INCREMENTAL cluster maintenance — dd23's companion that
    * folds a new batch into the EXISTING duplicate clusters without
    * re-running connected components on the corpus graph. The base
    * side's assignment (doc -> min-id component, the last full dd21
    * pass) is CONTRACTED to super-nodes: each cross edge attaches a
    * fresh doc to its base doc's COMPONENT id, intra-fresh edges
    * connect fresh docs directly, and CC runs on this contracted
    * graph only — nodes are components-touched + fresh docs, i.e.
    * O(matches + batch), never O(corpus). Contraction preserves CC
    * exactly (a component id IS the min doc id of its cluster, so
    * min over merged super-nodes is the global min — CleanSpec
    * proves equality with CC over the raw edge union).
    *
    * Incremental semantics, documented: base-base pairs come from
    * the LAST full pass (base-only dfs) and clusters never unmerge —
    * a hash pushed over the cap by the new batch silences FUTURE
    * candidates but does not retract old edges; new-edge candidates
    * (cross and intra-fresh) use the combined df, exactly what the
    * persisted fingerprint index would hold after the ingest.
    *
    * Output: (new_id, cluster_id) for every fresh doc with at least
    * one verified near-dup edge — the rows an ingest pipeline uses
    * to route new docs into existing clusters (cluster_id < new_id
    * means "joined an existing or smaller-id cluster").
    */
  def incrementalClusterUpdateOn(base: DataFrame, fresh: DataFrame,
      threshold: Double = 0.8, dfCap: Int = 16): DataFrame = {
    // build what the last full pass would have persisted — the
    // fingerprint index and the doc -> component assignment — then
    // run the ingest-time update against them
    val basePairs = tieredNearDupPairsOn(base, threshold, dfCap)
    val baseAssign = graft.dedup.Dedup
      .nearDupClusters(base, "doc_id", basePairs)
    incrementalClusterUpdateFrom(
      winnowIndexOf(base).localCheckpoint(true), baseAssign,
      base, fresh, threshold, dfCap)
  }

  def dd24IncrementalClusters(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    incrementalClusterUpdateOn(
      docs.filter(pmod(col("doc_id"), lit(7)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(7)) === 0))
  }

  def dd23IncrementalNeardup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // mod-7 split (the dd10 lesson: the planted near-dup twins sit at
    // id distances that a 1-in-97 slice never straddles)
    incrementalTieredPairsOn(
      docs.filter(pmod(col("doc_id"), lit(7)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(7)) === 0))
  }

  def dd21TieredClusterKeep(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = TruthSets.tieredNearDupPairs(s, d)
    graft.dedup.Dedup.nearDupClusters(docs, "doc_id", pairs)
      .groupBy(col("component").as("keep_id"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > 1)
  }

  /** The chunk array of a word array `t`: fixed `cs`-word windows,
    * partial tail kept. ONE definition shared by every batch chunker
    * and the streaming dual — the chunk geometry is part of the
    * batch==stream parity contract, so it must not fork.
    */
  def chunkArray(t: Column, cs: Int = CS): Column =
    transform(
      sequence(lit(0), floor((size(t) - 1) / cs).cast("int")),
      i => array_join(slice(t, i * cs + 1, lit(cs)), " "))

  /** Fixed-size word chunks (pos 0-based, partial tail kept): the
    * "paragraph" unit for the dedup/overlap family. Pure projection —
    * the chunking itself never shuffles.
    */
  def chunkDocs(docs: DataFrame, cs: Int = CS): DataFrame =
    docs.select(col("doc_id"), col("source"),
        split(trim(col("text")), "\\s+").as("t"))
      .select(col("doc_id"), col("source"),
        posexplode(chunkArray(col("t"), cs)))
      .withColumnRenamed("col", "chunk")

  /** par1: corpus-wide keep-first chunk dedup (MassiveText's
    * paragraph dedup): a chunk instance survives iff it is the FIRST
    * occurrence of its text in (doc_id, pos) order; each document is
    * reassembled from its surviving chunks. Two linear shuffles —
    * chunk-keyed groupBy+join for the argmin owner, doc-keyed
    * reassembly — and the argmin is a partial-aggregable
    * `min(struct(doc_id, pos))`, so map-side combine bounds the
    * chunk-key exchange by distinct-chunk count, not instance count.
    * Production would key the first groupBy on xxhash64(chunk) to
    * slim the shuffle; the literal text key here keeps the oracle
    * cross-engine exact.
    */
  /** The argmin owner per distinct chunk — the SINGLE definition of
    * the keep-first tiebreak (earliest (doc_id, pos)), used by both
    * [[chunkKeepFirst]] and [[par1ChunkDedupOn]] so the rule cannot
    * fork between the survivor projection and the per-doc rollup.
    */
  private def firstOwner(ch: DataFrame): DataFrame =
    ch.groupBy(col("chunk"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))

  /** The keep-first kernel: one surviving (doc_id, pos, chunk)
    * instance per distinct chunk — the earliest in (doc_id, pos)
    * order. Shared by par1 and the streaming dual's batch-parity
    * test ([[graft.streaming.StreamingDedup.streamingChunkDedup]]).
    */
  def chunkKeepFirst(ch: DataFrame): DataFrame =
    firstOwner(ch)
      .select(col("first.doc_id").as("doc_id"),
        col("first.pos").as("pos"), col("chunk"))

  def par1ChunkDedup(s: SparkSession, d: String): DataFrame =
    par1ChunkDedupOn(Tables.documents(s, d))

  def par1ChunkDedupOn(docs: DataFrame): DataFrame = {
    val ch = chunkDocs(docs)
    ch.join(firstOwner(ch), Seq("chunk"))
      .withColumn("kept", col("first.doc_id") === col("doc_id") &&
        col("first.pos") === col("pos"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(array_sort(collect_list(
            when(col("kept"), struct(col("pos"), col("chunk"))))),
          st => st.getField("chunk")), " ").as("cleaned"))
      .select(col("doc_id"), col("n_chunks"), col("n_kept"),
        round(col("n_kept").cast("double") / col("n_chunks"), 6)
          .cast("decimal(18,6)").cast("double").as("kept_frac"),
        col("cleaned"))
  }

  /** ovl1: source-overlap matrix — for every source pair, the number
    * of distinct chunks both emit. The distinct (chunk, source)
    * projection runs FIRST, so each chunk's join side is bounded by
    * the source catalog: per-key join work is <= |sources|^2
    * regardless of how often a boilerplate chunk repeats — the skew
    * cap that makes this a linear corpus diagnostic, not a pair
    * explosion. Output is upper-triangular (src_a < src_b), at most
    * C(|sources|, 2) rows.
    */
  def ovl1SourceOverlap(s: SparkSession, d: String): DataFrame = {
    val dcs = chunkDocs(Tables.documents(s, d))
      .select(col("chunk"), col("source")).distinct()
    dcs.as("a").join(dcs.as("b"),
        col("a.chunk") === col("b.chunk") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  // ---- heaps1: vocabulary-growth (Heaps' law) fit ----------------------

  /** heaps1: Heaps'-law vocabulary growth over the corpus — V(n) ≈
    * K·n^β, the diagnostic that sizes tokenizer vocabularies and
    * predicts how much new text still grows the vocab. Docs are
    * bucketed into 10 equal ranks by doc_id (the GlobalRank prefix
    * kernel — never a global window over a row-scaling domain); each
    * checkpoint b reports the CUMULATIVE token count and the
    * cumulative distinct vocabulary (a token belongs to the bucket of
    * its FIRST document, a partial-aggregable min, so "vocab so far"
    * is a plain cumulative count — no distinct-per-prefix rescans).
    * β comes from exact-decimal OLS on the 6-dp log-log checkpoints
    * (the reg1/srk1 discipline), repeated on every row.
    *
    * Scale shape: two token scans (per-doc counts and per-token first
    * documents group on different keys, so they cannot share one
    * aggregate); the slim per-doc and per-doc-rank frames materialize
    * once each (they feed two branches apiece — the win2 lesson:
    * lazy re-references re-run the whole upstream chain); cumulation
    * and the fit run on the 10-row bucket table (a broadcast
    * self-join, no window).
    */
  def heaps1VocabGrowth(s: SparkSession, d: String): DataFrame =
    heaps1VocabGrowthOn(Tables.documents(s, d))

  private[graft] def heaps1VocabGrowthOn(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
    val perDoc = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nt"))
      .localCheckpoint(true)
    val ranked = graft.ops.GlobalRank.prefixScan(perDoc,
        Seq(col("doc_id")), Nil, Some("r"))
      .crossJoin(broadcast(perDoc.agg(count(lit(1)).as("nd"))))
      .withColumn("bucket", expr("(r - 1) * 10 div nd"))
      .select(col("doc_id"), col("nt"), col("bucket"))
      .localCheckpoint(true)
    val firstDoc = toks.groupBy(col("token"))
      .agg(min(col("doc_id")).as("doc_id"))
    val vocabPerBucket = firstDoc.join(ranked.select("doc_id", "bucket"),
        Seq("doc_id"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("v_new"))
    // 10-row bucket table, materialized once: the cumulation self-join
    // and the fit both reference it, and each lazy reference would
    // otherwise re-run the whole token pipeline (the win2 lesson)
    val bt = ranked.groupBy(col("bucket"))
      .agg(sum(col("nt")).as("t_new"))
      .join(vocabPerBucket, Seq("bucket"), "left_outer")
      .na.fill(0L, Seq("v_new"))
      .localCheckpoint(true)
    // cumulate + fit on the 10-row bucket table: broadcast self-join,
    // then one OLS over the checkpoints (decimal sums, double division)
    val cum = bt.as("a").join(broadcast(bt.as("b")),
        col("b.bucket") <= col("a.bucket"))
      .groupBy(col("a.bucket").as("bucket"))
      .agg(sum(col("b.t_new")).as("cum_tokens"),
        sum(col("b.v_new")).as("cum_vocab"))
      .withColumn("lx", round(log(col("cum_tokens").cast("double")), 6)
        .cast("decimal(18,6)"))
      .withColumn("ly", round(log(col("cum_vocab").cast("double")), 6)
        .cast("decimal(18,6)"))
    val fit = cum.agg(count(lit(1)).as("k"),
      sum(col("lx")).cast("double").as("sx"),
      sum(col("ly")).cast("double").as("sy"),
      sum(col("lx") * col("ly")).cast("double").as("sxy"),
      sum(col("lx") * col("lx")).cast("double").as("sxx"))
    cum.crossJoin(broadcast(fit))
      .select(col("bucket"), col("cum_tokens"), col("cum_vocab"),
        round((col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx")), 6).as("beta6"))
  }

  // ---- pipe4: clean -> select, composed -------------------------------

  /** pipe4: the cleaning->selection slice of a training-data pipeline,
    * composed end-to-end — par1's corpus-wide keep-first chunk dedup
    * REASSEMBLES each document from its surviving chunks (docs that
    * keep nothing drop out), then rho1's excess-loss scorer ranks the
    * CLEANED corpus and selects the top learnability quarter per
    * language. The LMs retrain on the cleaned text, so dedup feeds
    * back into the selection statistics exactly as production
    * pipelines chain them. One composed DuckDB dual (par1's CTE chain
    * piped into the SAME rho chain the standalone rho1 oracle uses),
    * so composition cannot drift from the pieces.
    *
    * Phase boundary: the cleaned corpus is referenced by four
    * downstream scans (unigram stream, bigram stream, vocabulary,
    * join-back), so it is checkpointed once (the pipe1/pipe2 contract).
    */
  def pipe4CleanSelect(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val cleaned = par1ChunkDedupOn(docs).filter(col("n_kept") > 0)
      .select(col("doc_id"), col("cleaned").as("text"))
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .localCheckpoint(true)
    Select.rhoExcessOn(cleaned)
  }

  // ---- registry ------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "win1_winnowing" -> (win1Winnowing _),
    "win2_winnow_pairs" -> ((s: SparkSession, d: String) =>
      win2WinnowPairs(s, d)),
    "par1_chunk_dedup" -> (par1ChunkDedup _),
    "ovl1_source_overlap" -> (ovl1SourceOverlap _),
    "pipe4_clean_select" -> ((s: SparkSession, d: String) =>
      pipe4CleanSelect(s, d)),
    "heaps1_vocab_growth" -> (heaps1VocabGrowth _),
    "dd20_tiered_neardup" -> (dd20TieredNearDup _),
    "dd21_tiered_cluster_keep" -> (dd21TieredClusterKeep _),
    "dd23_incremental_neardup" -> (dd23IncrementalNeardup _),
    "dd24_incremental_clusters" -> (dd24IncrementalClusters _),
    "dd25_auto_neardup" -> (dd25AutoNearDup _),
    "dd26_index_lifecycle" -> (dd26IndexLifecycle _))

  // the two-tier join replayed end-to-end: win2's md5-winnow
  // candidate CTEs (df-capped, minShared=1) feeding dd7's exact
  // trigram-Jaccard verify — both engines divide the same exact
  // ints, so the doubles are bit-identical. SHARED by dd20 (the
  // one-shot pipeline) and dd26 (the K-ingest lifecycle, equal to the
  // one-shot pass by the compaction contract).
  private val tieredPairsSql =
    """WITH s AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
         b AS (SELECT doc_id, s, CAST(length(s) - 7 AS INT) AS g
               FROM s WHERE length(s) - 7 >= 4),
         k AS (SELECT doc_id, g,
                 list_transform(range(1, g + 1),
                   p -> md5(substr(s, CAST(p AS INT), 8)) ||
                        lpad(CAST(100000000 - p AS VARCHAR), 8, '0')) AS keys
               FROM b),
         sel AS (SELECT doc_id,
                   list_distinct(list_transform(range(1, g - 2),
                     ws -> list_min(keys[ws:ws+3]))) AS sel
                 FROM k),
         dh AS MATERIALIZED (
           SELECT DISTINCT doc_id, substr(key, 1, 32) AS h
           FROM (SELECT doc_id, unnest(sel) AS key FROM sel)),
         f AS (SELECT h, count(*) AS df FROM dh GROUP BY h),
         kept AS MATERIALIZED (
           SELECT dh.doc_id, dh.h FROM dh JOIN f USING (h)
           WHERE f.df <= 16),
         cands AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM kept a JOIN kept b
             ON a.h = b.h AND a.doc_id < b.doc_id),
         t AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
         gr AS MATERIALIZED (
           SELECT DISTINCT doc_id, unnest(
             CASE WHEN length(s) >= 3
                  THEN list_transform(range(1, length(s) - 1),
                                      i -> substr(s, CAST(i AS INT), 3))
                  ELSE [s] END) AS gram
           FROM t),
         gs AS (SELECT doc_id, count(*) AS sz FROM gr GROUP BY doc_id),
         ix AS (SELECT c.id_a, c.id_b, count(*) AS o
                FROM cands c
                JOIN gr a ON a.doc_id = c.id_a
                JOIN gr b ON b.doc_id = c.id_b AND b.gram = a.gram
                GROUP BY 1, 2)
         SELECT id_a, id_b,
                CAST(o AS DOUBLE) / (sa.sz + sb.sz - o) AS jaccard
         FROM ix JOIN gs sa ON sa.doc_id = ix.id_a
                 JOIN gs sb ON sb.doc_id = ix.id_b
         WHERE CAST(o AS DOUBLE) / (sa.sz + sb.sz - o) >= 0.8"""

  val oracles: Map[String, String] = Map(
    "dd20_tiered_neardup" -> tieredPairsSql,
    // the lifecycle row: Spark runs base pass + 3 ingests + index
    // append + compaction; DuckDB runs the ONE-SHOT tiered pipeline —
    // equality is the compaction contract, hash-checked cross-engine
    "dd26_index_lifecycle" -> tieredPairsSql,
    // the DISPATCH replayed in the second engine: the same Σ C(df,2)
    // trigram statistic gates two branch CTEs — the exact AllPairs
    // tier (dd7's SQL) and the tiered winnow gate (dd20's SQL) — so
    // DuckDB independently picks AND computes whichever tier the
    // Spark dispatcher picked at this scale (sf0.01 est ≈ 1.1e7 →
    // exact; sf0.1 est ≈ 1.1e9 → tiered)
    "dd25_auto_neardup" ->
      """WITH t AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
         gr AS MATERIALIZED (
           SELECT DISTINCT doc_id, unnest(
             CASE WHEN length(s) >= 3
                  THEN list_transform(range(1, length(s) - 1),
                                      i -> substr(s, CAST(i AS INT), 3))
                  ELSE [s] END) AS gram
           FROM t),
         est AS (SELECT COALESCE(CAST(LEAST(
                   sum(CAST(df AS HUGEINT) * (df - 1) // 2),
                   CAST(9223372036854775807 AS HUGEINT)) AS BIGINT),
                   0) AS est
                 FROM (SELECT count(*) AS df FROM gr GROUP BY gram)),
         gs AS (SELECT doc_id, count(*) AS sz FROM gr GROUP BY doc_id),
         exj AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS o
                 FROM gr a JOIN gr b
                   ON a.gram = b.gram AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
         exact_pairs AS (
           SELECT id_a, id_b,
                  CAST(o AS DOUBLE) / (sa.sz + sb.sz - o) AS jaccard
           FROM exj JOIN gs sa ON sa.doc_id = exj.id_a
                    JOIN gs sb ON sb.doc_id = exj.id_b
           WHERE CAST(o AS DOUBLE) / (sa.sz + sb.sz - o) >= 0.8),
         b AS (SELECT doc_id, s, CAST(length(s) - 7 AS INT) AS g
               FROM t WHERE length(s) - 7 >= 4),
         k AS (SELECT doc_id, g,
                 list_transform(range(1, g + 1),
                   p -> md5(substr(s, CAST(p AS INT), 8)) ||
                        lpad(CAST(100000000 - p AS VARCHAR), 8, '0')) AS keys
               FROM b),
         sel AS (SELECT doc_id,
                   list_distinct(list_transform(range(1, g - 2),
                     ws -> list_min(keys[ws:ws+3]))) AS sel
                 FROM k),
         dh AS MATERIALIZED (
           SELECT DISTINCT doc_id, substr(key, 1, 32) AS h
           FROM (SELECT doc_id, unnest(sel) AS key FROM sel)),
         f AS (SELECT h, count(*) AS df FROM dh GROUP BY h),
         kept AS MATERIALIZED (
           SELECT dh.doc_id, dh.h FROM dh JOIN f USING (h)
           WHERE f.df <= 16),
         cands AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM kept a JOIN kept b
             ON a.h = b.h AND a.doc_id < b.doc_id),
         ix AS (SELECT c.id_a, c.id_b, count(*) AS o
                FROM cands c
                JOIN gr a ON a.doc_id = c.id_a
                JOIN gr b ON b.doc_id = c.id_b AND b.gram = a.gram
                GROUP BY 1, 2),
         tiered_pairs AS (
           SELECT id_a, id_b,
                  CAST(o AS DOUBLE) / (sa.sz + sb.sz - o) AS jaccard
           FROM ix JOIN gs sa ON sa.doc_id = ix.id_a
                   JOIN gs sb ON sb.doc_id = ix.id_b
           WHERE CAST(o AS DOUBLE) / (sa.sz + sb.sz - o) >= 0.8)
         SELECT id_a, id_b, jaccard FROM exact_pairs
         WHERE (SELECT est FROM est) <= 100000000
         UNION ALL
         SELECT id_a, id_b, jaccard FROM tiered_pairs
         WHERE (SELECT est FROM est) > 100000000""",
    // dd20's candidate CTEs split two-table: sides tagged, df capped
    // on the COMBINED frequency, only cross-side hash matches become
    // candidates, exact verify replays verbatim
    "dd23_incremental_neardup" ->
      """WITH s AS (SELECT doc_id, lower(trim(text)) AS s,
                  CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS side
               FROM documents),
         b AS (SELECT doc_id, side, s, CAST(length(s) - 7 AS INT) AS g
               FROM s WHERE length(s) - 7 >= 4),
         k AS (SELECT doc_id, side, g,
                 list_transform(range(1, g + 1),
                   p -> md5(substr(s, CAST(p AS INT), 8)) ||
                        lpad(CAST(100000000 - p AS VARCHAR), 8, '0')) AS keys
               FROM b),
         sel AS (SELECT doc_id, side,
                   list_distinct(list_transform(range(1, g - 2),
                     ws -> list_min(keys[ws:ws+3]))) AS sel
                 FROM k),
         dh AS MATERIALIZED (
           SELECT DISTINCT doc_id, side, substr(key, 1, 32) AS h
           FROM (SELECT doc_id, side, unnest(sel) AS key FROM sel)),
         f AS (SELECT h, count(*) AS df FROM dh GROUP BY h),
         kept AS MATERIALIZED (
           SELECT dh.doc_id, dh.side, dh.h FROM dh JOIN f USING (h)
           WHERE f.df <= 16),
         cands AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM kept a JOIN kept b
             ON a.h = b.h AND a.side = 0 AND b.side = 1),
         t AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
         gr AS MATERIALIZED (
           SELECT DISTINCT doc_id, unnest(
             CASE WHEN length(s) >= 3
                  THEN list_transform(range(1, length(s) - 1),
                                      i -> substr(s, CAST(i AS INT), 3))
                  ELSE [s] END) AS gram
           FROM t),
         gs AS (SELECT doc_id, count(*) AS sz FROM gr GROUP BY doc_id),
         ix AS (SELECT c.id_a, c.id_b, count(*) AS o
                FROM cands c
                JOIN gr a ON a.doc_id = c.id_a
                JOIN gr b ON b.doc_id = c.id_b AND b.gram = a.gram
                GROUP BY 1, 2)
         SELECT id_a AS id_base, id_b AS id_new,
                CAST(o AS DOUBLE) / (sa.sz + sb.sz - o) AS jaccard
         FROM ix JOIN gs sa ON sa.doc_id = ix.id_a
                 JOIN gs sb ON sb.doc_id = ix.id_b
         WHERE CAST(o AS DOUBLE) / (sa.sz + sb.sz - o) >= 0.8""",
    // the incremental cluster update replayed end-to-end: base-only
    // capped pairs -> base CC (first recursive CTE) -> contracted
    // graph (cross edges enter at the base COMPONENT id, intra-fresh
    // edges direct) -> final CC (second recursive CTE) -> fresh rows
    "dd24_incremental_clusters" ->
      """WITH RECURSIVE s AS (SELECT doc_id, lower(trim(text)) AS s,
                  CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS side
               FROM documents),
         b AS (SELECT doc_id, side, s, CAST(length(s) - 7 AS INT) AS g
               FROM s WHERE length(s) - 7 >= 4),
         k AS (SELECT doc_id, side, g,
                 list_transform(range(1, g + 1),
                   p -> md5(substr(s, CAST(p AS INT), 8)) ||
                        lpad(CAST(100000000 - p AS VARCHAR), 8, '0')) AS keys
               FROM b),
         sel AS (SELECT doc_id, side,
                   list_distinct(list_transform(range(1, g - 2),
                     ws -> list_min(keys[ws:ws+3]))) AS sel
                 FROM k),
         dh AS MATERIALIZED (
           SELECT DISTINCT doc_id, side, substr(key, 1, 32) AS h
           FROM (SELECT doc_id, side, unnest(sel) AS key FROM sel)),
         fb AS (SELECT h, count(*) AS df FROM dh WHERE side = 0 GROUP BY h),
         keptb AS MATERIALIZED (
           SELECT dh.doc_id, dh.h FROM dh JOIN fb USING (h)
           WHERE dh.side = 0 AND fb.df <= 16),
         candsb AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM keptb a JOIN keptb b
             ON a.h = b.h AND a.doc_id < b.doc_id),
         fc AS (SELECT h, count(*) AS df FROM dh GROUP BY h),
         keptc AS MATERIALIZED (
           SELECT dh.doc_id, dh.side, dh.h FROM dh JOIN fc USING (h)
           WHERE fc.df <= 16),
         candsn AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  TRUE AS cross_edge
           FROM keptc a JOIN keptc b
             ON a.h = b.h AND a.side = 0 AND b.side = 1
           UNION
           SELECT DISTINCT a.doc_id, b.doc_id, FALSE
           FROM keptc a JOIN keptc b
             ON a.h = b.h AND a.side = 1 AND b.side = 1
               AND a.doc_id < b.doc_id),
         t AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
         gr AS MATERIALIZED (
           SELECT DISTINCT doc_id, unnest(
             CASE WHEN length(s) >= 3
                  THEN list_transform(range(1, length(s) - 1),
                                      i -> substr(s, CAST(i AS INT), 3))
                  ELSE [s] END) AS gram
           FROM t),
         gs AS (SELECT doc_id, count(*) AS sz FROM gr GROUP BY doc_id),
         ixb AS (SELECT c.id_a, c.id_b, count(*) AS o
                FROM candsb c
                JOIN gr a ON a.doc_id = c.id_a
                JOIN gr b ON b.doc_id = c.id_b AND b.gram = a.gram
                GROUP BY 1, 2),
         pairsb AS MATERIALIZED (
           SELECT id_a, id_b
           FROM ixb JOIN gs sa ON sa.doc_id = ixb.id_a
                    JOIN gs sb ON sb.doc_id = ixb.id_b
           WHERE CAST(o AS DOUBLE) / (sa.sz + sb.sz - o) >= 0.8),
         edgesb AS (SELECT id_a AS src, id_b AS dst FROM pairsb
                    UNION SELECT id_b, id_a FROM pairsb),
         reachb(src, dst) AS (
                    SELECT src, dst FROM edgesb
                    UNION
                    SELECT r.src, e.dst FROM reachb r
                    JOIN edgesb e ON r.dst = e.src WHERE r.src <> e.dst),
         compb AS (SELECT src AS node, least(src, min(dst)) AS component
                   FROM reachb GROUP BY src),
         ixn AS (SELECT c.id_a, c.id_b, c.cross_edge, count(*) AS o
                FROM candsn c
                JOIN gr a ON a.doc_id = c.id_a
                JOIN gr b ON b.doc_id = c.id_b AND b.gram = a.gram
                GROUP BY 1, 2, 3),
         pairsn AS MATERIALIZED (
           SELECT id_a, id_b, cross_edge
           FROM ixn JOIN gs sa ON sa.doc_id = ixn.id_a
                    JOIN gs sb ON sb.doc_id = ixn.id_b
           WHERE CAST(o AS DOUBLE) / (sa.sz + sb.sz - o) >= 0.8),
         en0 AS (SELECT CASE WHEN p.cross_edge
                        THEN COALESCE(cb.component, p.id_a)
                        ELSE p.id_a END AS src,
                        p.id_b AS dst
                 FROM pairsn p
                 LEFT JOIN compb cb
                   ON cb.node = p.id_a AND p.cross_edge),
         edgesn AS (SELECT src, dst FROM en0
                    UNION SELECT dst, src FROM en0),
         reachn(src, dst) AS (
                    SELECT src, dst FROM edgesn
                    UNION
                    SELECT r.src, e.dst FROM reachn r
                    JOIN edgesn e ON r.dst = e.src WHERE r.src <> e.dst),
         compn AS (SELECT src AS node, least(src, min(dst)) AS component
                   FROM reachn GROUP BY src)
         SELECT CAST(node AS BIGINT) AS new_id,
                CAST(component AS BIGINT) AS cluster_id
         FROM compn WHERE node % 7 = 0""",
    // dd20's candidate+verify CTEs feeding dd6's recursive-CTE
    // connected components — the whole tiered cluster pipeline
    // replayed end-to-end in the second engine
    "dd21_tiered_cluster_keep" ->
      """WITH RECURSIVE s AS (SELECT doc_id, lower(trim(text)) AS s
               FROM documents),
         b AS (SELECT doc_id, s, CAST(length(s) - 7 AS INT) AS g
               FROM s WHERE length(s) - 7 >= 4),
         k AS (SELECT doc_id, g,
                 list_transform(range(1, g + 1),
                   p -> md5(substr(s, CAST(p AS INT), 8)) ||
                        lpad(CAST(100000000 - p AS VARCHAR), 8, '0')) AS keys
               FROM b),
         sel AS (SELECT doc_id,
                   list_distinct(list_transform(range(1, g - 2),
                     ws -> list_min(keys[ws:ws+3]))) AS sel
                 FROM k),
         dh AS MATERIALIZED (
           SELECT DISTINCT doc_id, substr(key, 1, 32) AS h
           FROM (SELECT doc_id, unnest(sel) AS key FROM sel)),
         f AS (SELECT h, count(*) AS df FROM dh GROUP BY h),
         kept AS MATERIALIZED (
           SELECT dh.doc_id, dh.h FROM dh JOIN f USING (h)
           WHERE f.df <= 16),
         cands AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM kept a JOIN kept b
             ON a.h = b.h AND a.doc_id < b.doc_id),
         t AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
         gr AS MATERIALIZED (
           SELECT DISTINCT doc_id, unnest(
             CASE WHEN length(s) >= 3
                  THEN list_transform(range(1, length(s) - 1),
                                      i -> substr(s, CAST(i AS INT), 3))
                  ELSE [s] END) AS gram
           FROM t),
         gs AS (SELECT doc_id, count(*) AS sz FROM gr GROUP BY doc_id),
         ix AS (SELECT c.id_a, c.id_b, count(*) AS o
                FROM cands c
                JOIN gr a ON a.doc_id = c.id_a
                JOIN gr b ON b.doc_id = c.id_b AND b.gram = a.gram
                GROUP BY 1, 2),
         pairs AS MATERIALIZED (
           SELECT id_a, id_b
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
    "win1_winnowing" ->
      """WITH s AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
         b AS (SELECT doc_id, s, CAST(length(s) - 7 AS INT) AS g
               FROM s WHERE length(s) - 7 >= 4),
         k AS (SELECT doc_id, g,
                 list_transform(range(1, g + 1),
                   p -> md5(substr(s, CAST(p AS INT), 8)) ||
                        lpad(CAST(100000000 - p AS VARCHAR), 8, '0')) AS keys
               FROM b),
         sel AS (SELECT doc_id,
                   list_distinct(list_transform(range(1, g - 2),
                     ws -> list_min(keys[ws:ws+3]))) AS sel
                 FROM k),
         fp AS (SELECT doc_id, substr(key, 1, 32) AS h
                FROM (SELECT doc_id, unnest(sel) AS key FROM sel)),
         dh AS (SELECT DISTINCT doc_id, h FROM fp),
         f AS (SELECT h, count(*) AS n_docs FROM dh GROUP BY h),
         sh AS (SELECT dh.doc_id, CAST(count(*) AS BIGINT) AS n_hashes,
                  CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_shared
                FROM dh JOIN f USING (h) GROUP BY dh.doc_id)
         SELECT sel.doc_id, CAST(len(sel.sel) AS BIGINT) AS n_fp,
                sh.n_hashes, sh.n_shared,
                CAST(CAST(round(CAST(sh.n_shared AS DOUBLE) / sh.n_hashes, 6)
                  AS DECIMAL(18,6)) AS DOUBLE) AS shared_frac
         FROM sel JOIN sh USING (doc_id)""",
    "heaps1_vocab_growth" ->
      """WITH toks AS MATERIALIZED (
           SELECT doc_id,
                  unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                    AS token
           FROM documents),
         pd AS (SELECT doc_id, count(*) AS nt FROM toks GROUP BY doc_id),
         nd AS (SELECT count(*) AS nd FROM pd),
         rk AS MATERIALIZED (
           SELECT doc_id, nt,
                  ((row_number() OVER (ORDER BY doc_id) - 1) * 10) // nd
                    AS bucket
           FROM pd CROSS JOIN nd),
         fd AS (SELECT token, min(doc_id) AS doc_id FROM toks
                GROUP BY token),
         vb AS (SELECT bucket, count(*) AS v_new
                FROM fd JOIN rk USING (doc_id) GROUP BY bucket),
         bt AS MATERIALIZED (
           SELECT rk.bucket, CAST(sum(nt) AS BIGINT) AS t_new,
                  COALESCE(any_value(v_new), 0) AS v_new
           FROM rk LEFT JOIN vb ON rk.bucket = vb.bucket
           GROUP BY rk.bucket),
         cum AS MATERIALIZED (
           SELECT a.bucket,
                  CAST(sum(b.t_new) AS BIGINT) AS cum_tokens,
                  CAST(sum(b.v_new) AS BIGINT) AS cum_vocab,
                  CAST(round(ln(CAST(sum(b.t_new) AS DOUBLE)), 6)
                    AS DECIMAL(18,6)) AS lx,
                  CAST(round(ln(CAST(sum(b.v_new) AS DOUBLE)), 6)
                    AS DECIMAL(18,6)) AS ly
           FROM bt a JOIN bt b ON b.bucket <= a.bucket
           GROUP BY a.bucket),
         fit AS (SELECT CAST(count(*) AS BIGINT) AS k,
                   CAST(sum(lx) AS DOUBLE) AS sx,
                   CAST(sum(ly) AS DOUBLE) AS sy,
                   CAST(sum(lx * ly) AS DOUBLE) AS sxy,
                   CAST(sum(lx * lx) AS DOUBLE) AS sxx
                 FROM cum)
         SELECT bucket, cum_tokens, cum_vocab,
                round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
                  AS beta6
         FROM cum CROSS JOIN fit""",
    "win2_winnow_pairs" ->
      """WITH s AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
         b AS (SELECT doc_id, s, CAST(length(s) - 7 AS INT) AS g
               FROM s WHERE length(s) - 7 >= 4),
         k AS (SELECT doc_id, g,
                 list_transform(range(1, g + 1),
                   p -> md5(substr(s, CAST(p AS INT), 8)) ||
                        lpad(CAST(100000000 - p AS VARCHAR), 8, '0')) AS keys
               FROM b),
         sel AS (SELECT doc_id,
                   list_distinct(list_transform(range(1, g - 2),
                     ws -> list_min(keys[ws:ws+3]))) AS sel
                 FROM k),
         dh AS MATERIALIZED (
           SELECT DISTINCT doc_id, substr(key, 1, 32) AS h
           FROM (SELECT doc_id, unnest(sel) AS key FROM sel)),
         f AS (SELECT h, count(*) AS df FROM dh GROUP BY h),
         kept AS MATERIALIZED (
           SELECT dh.doc_id, dh.h FROM dh JOIN f USING (h)
           WHERE f.df <= 16),
         n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nh
               FROM kept GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(count(*) AS BIGINT) AS m
                   FROM kept a JOIN kept b
                     ON a.h = b.h AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT id_a, id_b, m,
                CAST(CAST(round(CAST(m AS DOUBLE) / least(na.nh, nb.nh), 6)
                  AS DECIMAL(18,6)) AS DOUBLE) AS score
         FROM pairs
         JOIN n na ON na.doc_id = id_a
         JOIN n nb ON nb.doc_id = id_b
         WHERE m >= 5""",
    "par1_chunk_dedup" ->
      """WITH toks AS (SELECT doc_id,
                 regexp_split_to_array(trim(text), '\s+') AS t
               FROM documents),
         nc AS (SELECT doc_id, t,
                  CAST(ceil(len(t) / 10.0) AS INT) AS n FROM toks),
         ch AS (SELECT doc_id, i AS pos,
                  array_to_string(t[(i*10+1):(i*10+10)], ' ') AS chunk
                FROM nc, unnest(range(0, n)) AS u(i)),
         m AS (SELECT doc_id, pos, chunk,
                 row_number() OVER (PARTITION BY chunk
                   ORDER BY doc_id, pos) AS rk
               FROM ch)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
                CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_kept,
                CAST(CAST(round(CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6)
                  AS DECIMAL(18,6)) AS DOUBLE) AS kept_frac,
                COALESCE(string_agg(CASE WHEN rk = 1 THEN chunk END,
                  ' ' ORDER BY pos), '') AS cleaned
         FROM m GROUP BY doc_id""",
    "pipe4_clean_select" ->
      s"""WITH toksrc AS (SELECT doc_id, lang,
                 regexp_split_to_array(trim(text), '\\s+') AS t0
               FROM documents),
         nc0 AS (SELECT doc_id, lang, t0,
                  CAST(ceil(len(t0) / 10.0) AS INT) AS n FROM toksrc),
         ch0 AS (SELECT doc_id, lang, i AS pos,
                  array_to_string(t0[(i*10+1):(i*10+10)], ' ') AS chunk
                FROM nc0, unnest(range(0, n)) AS u(i)),
         m0 AS (SELECT doc_id, lang, pos, chunk,
                 row_number() OVER (PARTITION BY chunk
                   ORDER BY doc_id, pos) AS rk
               FROM ch0),
         cleaned AS MATERIALIZED (
           SELECT doc_id, any_value(lang) AS lang,
                  string_agg(CASE WHEN rk = 1 THEN chunk END,
                    ' ' ORDER BY pos) AS text
           FROM m0 GROUP BY doc_id
           HAVING sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) > 0),
         ${Select.rhoOracleChain("cleaned")}""",
    "ovl1_source_overlap" ->
      """WITH toks AS (SELECT doc_id, source,
                 regexp_split_to_array(trim(text), '\s+') AS t
               FROM documents),
         nc AS (SELECT doc_id, source, t,
                  CAST(ceil(len(t) / 10.0) AS INT) AS n FROM toks),
         ch AS (SELECT doc_id, source,
                  array_to_string(t[(i*10+1):(i*10+10)], ' ') AS chunk
                FROM nc, unnest(range(0, n)) AS u(i)),
         d AS (SELECT DISTINCT chunk, source FROM ch)
         SELECT a.source AS src_a, b.source AS src_b,
                CAST(count(*) AS BIGINT) AS n_shared
         FROM d a JOIN d b ON a.chunk = b.chunk AND a.source < b.source
         GROUP BY 1, 2""")
}
