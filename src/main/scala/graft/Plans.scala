package graft

import java.nio.file.{Files, Paths}

/** Dumps formatted physical plans (+ final AQE plans) for the
  * representative queries into PLANS.md — the `.explain("formatted")`
  * audit trail the scale design is iterated against (see PlanSpec for
  * the asserted invariants).
  *
  * Usage: runMain graft.Plans [sfDir] [outFile]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.drop(1).headOption.getOrElse("PLANS.md")
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")

    val picks = Seq(
      "q0_flagship_bldgs" -> "multi-way left join + distinct-on spine",
      "p1_predicates" -> "predicate pushdown + column pruning",
      "a5_sum_pricing" -> "multi-key agg, partial+final",
      "a6_first_ordered" -> "ordered-first as partial max_by",
      "j4_dim_lookup" -> "broadcast dimension chain",
      "ann1_bruteforce" -> "shuffle-free top-k",
      "dd2_minhash_pairs" -> "minhash signature + banded self-join",
      "dd5_embedding_neardup" -> "slim LSH pair gen + vector fetch join",
      "j8_range_join" -> "keyless range join as banded equi-join",
      "bf1_bloom_prune" -> "broadcast bloom prefilter + exact semi-join",
      "dd9_contamination_bloom" ->
        "decontamination at non-broadcast scale: literal-blob bloom probe pre-shuffle",
      "dd8_contamination" ->
        "one-pass decontamination: map-side hit flag, single aggregation",
      "pk2_chunk_overlap" ->
        "long-doc chunking: pure per-row window explode, no shuffle",
      "asof1_backward" ->
        "as-of as a CUSTOM PHYSICAL OPERATOR: declared distribution/ordering, planner-owned exchanges (zero when inputs are pre-partitioned/bucketed)",
      "asof4_backward_chunked" ->
        "skew-proof as-of: (key,bucket) spread + winner carry injection",
      "dd7_exact_jaccard" ->
        "exact similarity join: prefix filter + sorted-hash verify",
      "o5_global_topk" -> "global top-k as TakeOrderedAndProject",
      "a19_hll_rollup" -> "mergeable HLL sketches, partial+union",
      "hm1_hamming_topk" ->
        "Hamming ANN over packed sign bits: popcount project + TakeOrdered, no shuffle",
      "km1_assign_q" ->
        "quantized k-means assignment: literal centroids, pure projection, no shuffle",
      "sem1_semdedup_q" ->
        "quantized SemDeDup: cluster-bounded self-join, integer threshold test",
      "bpe2_apply_counts" ->
        "BPE apply: broadcast vocab join, corpus scans once before per-doc agg",
      "ent1_word_entropy" ->
        "per-doc entropy: two partial-aggregating shuffles, nothing pairwise",
      "rrf1_rank_fusion" ->
        "hybrid retrieval: both rankings TakeOrdered, fusion joins <=100 rows",
      "hn1_hard_negatives" ->
        "hard negatives: broadcast 3-row query side, single corpus scan",
      "nrm1_zscore" ->
        "z-score: broadcast group stats back over the row stream, no row shuffle",
      "ks2_daily_drift" ->
        "binned drift: per-day window partitions, broadcast 50-bin reference",
      "reg2_multireg" ->
        "in-plan OLS: one decimal-moment aggregation, Cramer as expressions",
      "sub1_trigram_search" ->
        "trigram substring search: posting intersection then contains confirm",
      "rec1_item_cooc" ->
        "co-occurrence: within-row pair generation, no fact self-join, broadcast item counts",
      "dd13_containment" ->
        "containment: staged+checkpointed hash-gram postings, unordered-pair agg, direction fan-out after",
      "bs1_bootstrap_ci" ->
        "Poisson bootstrap: replicate id exploded per row, one groupBy(b) aggregate, single scan",
      "msk1_token_mask" ->
        "token masking: pure positional transform, zero Exchange",
      "cal1_calibration" ->
        "calibration: distinct-value ordered scan + integer-division decile agg",
      "imp1_median_impute" ->
        "imputation: rank-picked medians broadcast over one stream scan",
      "geo1_radius_pairs" ->
        "geo radius join: 3x3 cell candidate equi-join + exact haversine verify, no cross join",
      "psm1_propensity_match" ->
        "propensity matching: 1-D banded candidates, struct-min argmin as partial agg",
      "iso1_isotonic_rate" ->
        "isotonic fit: one full-data bin aggregate, then bounded minimax windows",
      "cv1_kfold_ols" ->
        "k-fold CV: one fold-sums aggregate trains all 5 complement models, broadcast scoring pass",
      "knn2_label_audit" ->
        "kNN label audit: bounded-heap batch top-k, broadcast labels, plurality windows per query key",
      "gini1_lorenz_gini" ->
        "distributed rank kernel: range-repartition + broadcast bases + pid-keyed windows, no global sort",
      "abc1_pareto_class" ->
        "cumulative share over a row-scaling catalog via the prefix kernel (exact cents)",
      "dd16_ngram_containment" ->
        "sketch-family containment: emitted pairs anti-joined against the exact truth set",
      "dsir1_importance_weights" ->
        "DSIR weighting: V-row broadcast LLR table over one token scan, per-doc groupBy only",
      "ccnet1_perplexity_buckets" ->
        "perplexity terciles: prefix-rank kernel over (source,nll), broadcast 20-row cut table",
      "clb1_cluster_balanced" ->
        "cluster-balanced sample: literal-centroid assignment, k-row quota broadcast, prefix-rank per cluster",
      "win2_winnow_pairs" ->
        "winnowing match: native per-row fingerprint expression, df-capped self-join over ONE checkpointed frame",
      "par1_chunk_dedup" ->
        "keep-first chunk dedup: partial-aggregable struct-min argmin, two linear shuffles",
      "rho1_excess_loss" ->
        "excess-loss selection: two LM aggregates joined per doc, prefix-rank per language",
      "dd18_multiset_contamination" ->
        "multi-benchmark decontamination: one set-tagged gram broadcast, two corpus gram passes for the whole suite",
      "geo3_point_in_polygon" ->
        "containment join: bbox-cell broadcast dim, cell-key candidates, codegen ray-cast verify, no cross join",
      "blk1_blocklist_hits" ->
        "blocklist filter: driver-compiled Aho-Corasick reference object, map-only corpus scan, zero Exchange",
      "dd27_span_excise" ->
        "duplicate-span excision: two linear token shuffles (span-digest groupBy + anti-join reassembly), no all-pairs step",
      "mm3_image_dhash_neardup" ->
        "image near-dup: binary payloads reduce per-partition to 16-bit band rows, band-bucket self-join + Hamming verify on candidates",
      "mm4_audio_neardup" ->
        "audio near-dup: WAV payloads reduce per-partition to Haar-delta band rows, shared band-join machinery, no audio bytes in any Exchange",
      "mm5_video_neardup" ->
        "video temporal near-dup: RLE8 fold-decode + per-frame dHash reduce per-partition, frame-aligned band join, all-frames Hamming gate",
      "mm6_crossmodal_neardup" ->
        "cross-modal dedup: image band pairs INTERSECT caption winnow candidates before the exact Jaccard verify — cheapest gate first",
      "qc1_quality_classifier" ->
        "learned quality classifier: long-format features, broadcast K-row weight join per round, bucket-grouped gradient agg, base-rate threshold")

    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of representative queries\n\n")
    sb.append(s"Generated by `graft.Plans` on `$sfDir`. Invariants are\n")
    sb.append("asserted in `PlanSpec`; this file is the human-readable dump.\n")
    picks.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val formatted = {
        val baos = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(baos)) { df.explain("formatted") }
        baos.toString
      }
      df.count() // finalize AQE
      val finalPlan = df.queryExecution.executedPlan.toString
      sb.append(s"\n## $name — $why\n\n### explain(formatted)\n```\n")
      sb.append(formatted)
      sb.append("```\n\n### final plan (AQE-resolved)\n```\n")
      sb.append(finalPlan)
      sb.append("```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
