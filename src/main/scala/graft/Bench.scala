package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, times each query's FULL result, and prints ONE
  * JSON line with the total and a headline subset of per-query seconds.
  * The out file (SPARK_GRAFT_BENCH_OUT, default ./bench.json) holds
  * every query's seconds plus a canary reading before and after the
  * run. A small warmup first absorbs session/JIT/codegen startup;
  * per-query progress goes to stderr. This main only reports timings:
  * regressions are judged by perfbench (BENCHMARK.json).
  */
object Bench {

  /** One query's reading: seconds to its full result, or to its failure. */
  private[graft] case class Timing(name: String, sec: Double, failed: Boolean)

  /** Times `df`'s construction and full result. The `noop` sink runs
    * the whole plan, every row and column, and discards the rows;
    * `count()` would let Catalyst prune every column it does not read,
    * and with them their work and their failures. A throw is logged
    * under `label` and marks the reading failed.
    */
  private[graft] def time(label: String)(df: => DataFrame): Timing = {
    val t0 = System.nanoTime()
    val failed =
      try { df.write.format("noop").mode("overwrite").save(); false }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $label FAILED: ${e.getMessage}"); true
      }
    Timing(label, (System.nanoTime() - t0) / 1e9, failed)
  }

  // the stdout line's per-query subset, one query per operator family:
  // the log-tail capture that reads the line keeps only its last ~2000
  // characters, and a map over all 318 queries would not fit
  private[graft] val headline = Seq(
    "q0_flagship_bldgs", "a1_group_count", "a5_sum_pricing",
    "a6_first_ordered", "a7_array_agg", "a12_rollup", "a15_percentiles",
    "a19_hll_rollup", "j1_left_join_agg", "j5_broadcast_lookup",
    "j8_range_join", "asof1_backward", "w1_running", "o3_topk_per_group",
    "d1_distinct_on", "e1_tumbling", "e3_session", "e4_interval_join",
    "g1_components", "hh1_heavy_hitters", "dd1_exact", "dd2_minhash_pairs",
    "dd5_embedding_neardup", "dd6_cluster_keep", "dd7_exact_jaccard",
    "dd18_multiset_contamination", "dd20_tiered_neardup",
    "asof4_backward_chunked", "ann1_bruteforce",
    "ann3_ivf", "t1_tokens", "t9_tfidf", "u1_upsert", "pipe1_corpus_clean",
    "pipe2_training_prep", "hm1_hamming_topk", "km2_lloyd_q",
    "sem1_semdedup_q", "bpe1_train_merges", "cdc1_content_chunks",
    "pipe3_curation",
    "x1_sql_cosine", "sk2_salted_join", "bf1_bloom_prune", "smp3_weighted_k",
    "dsir1_importance_weights", "clb1_cluster_balanced",
    "win2_winnow_pairs", "par1_chunk_dedup", "rho1_excess_loss",
    "pipe4_clean_select", "pipe5_tiered_prep", "dd23_incremental_neardup")

  private def r3(v: Double): String = f"$v%.3f"
  private def str(s: String): String = "\"" + s + "\""

  /** `value` sums completed queries only; `n` counts every attempt. */
  private def totals(results: Seq[Timing]): String =
    s"""{"metric":"total","value":${r3(results.filterNot(_.failed).map(_.sec).sum)},""" +
      s""""unit":"sec","n":${results.size},"n_failed":${results.count(_.failed)}"""

  /** The stdout line: totals plus the headline's completed queries. */
  private[graft] def line(results: Seq[Timing], sf: String): String = {
    val done = results.filterNot(_.failed).map(t => t.name -> t.sec).toMap
    val qs = headline.flatMap(k => done.get(k).map(v => str(k) + ":" + r3(v)))
    totals(results) + s""","queries":${qs.mkString("{", ",", "}")},"sf":${str(sf)}}"""
  }

  /** The out file: totals, both canary readings, every query. */
  private def record(results: Seq[Timing], sf: String,
      canaryBefore: Double, canaryAfter: Double): String = {
    val qs = results.map(t => str(t.name) + ":{\"sec\":" + r3(t.sec) +
      (if (t.failed) ",\"failed\":true}" else "}"))
    totals(results) +
      s""","canary_before":${r3(canaryBefore)},"canary_after":${r3(canaryAfter)},""" +
      s""""queries":${qs.mkString("{", ",", "}")},"sf":${str(sf)}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nCpus = Session.cpus
    val spark = Session.local(nCpus)

    // warmup: run each family's scan/shuffle/codegen paths once on a
    // small SF so first-execution JIT/codegen cost doesn't land on the
    // first measured query of each family. The warmup data root holds
    // sf0.001/sf0.01 and defaults to the bench dir's parent (made
    // absolute: a bare relative "sf0.1" has no parent).
    val dataRoot = sys.env.get("SPARK_GRAFT_WARMUP_ROOT")
      .map(new java.io.File(_))
      .getOrElse(new java.io.File(sfDir).getAbsoluteFile.getParentFile)
    def warm(queries: Seq[String], sf: String): Unit = {
      val dir = new java.io.File(dataRoot, sf).getPath
      queries.foreach(q => time(s"WARMUP $q on $dir")(SparkEntry.queries(q)(spark, dir)))
    }
    // the multimodal codec chains and the trained-classifier loop each
    // carry a large unique codegen surface; unwarmed, their first
    // execution measured 2-5x steady state
    warm(Seq("q0_flagship_bldgs", "dd2_minhash_pairs", "dd5_embedding_neardup",
      "ann2_lsh", "asof1_backward", "mm3_image_dhash_neardup",
      "mm4_audio_neardup", "mm5_video_neardup", "mm6_crossmodal_neardup",
      "qc1_quality_classifier"), "sf0.001")
    // the exact-similarity kernels only reach steady state when they
    // iterate enough; sf0.01 runs the same code paths long enough
    warm(Seq("dd7_exact_jaccard"), "sf0.01")

    // the canary: fixed CPU-bound work, independent of SF and of any
    // cached state; its reading before and after the run records how
    // loaded the host was. Best of three absorbs its own codegen.
    def canary(): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      // bit_xor, not sum: 64M xxhash64 values overflow a Long sum
      spark.range(0L, 64L * 1000 * 1000, 1L, nCpus)
        .select(bit_xor(xxhash64(col("id")))).head()
      (System.nanoTime() - t0) / 1e9
    }.min

    // Run order: alphabetical, EXCEPT the heavy exact-similarity pair
    // (dd7 then dd6) runs FIRST, right after its warmup and not on top
    // of the LSH family's shuffle/GC residue. GRAFT_BENCH_ONLY
    // (comma-separated names) restricts the run for isolated re-reads.
    val front = Seq("dd7_exact_jaccard", "dd6_cluster_keep")
    val only = sys.env.get("GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val ordered = (front.flatMap(n => SparkEntry.queries.get(n).map(n -> _)) ++
      SparkEntry.queries.toSeq.sortBy(_._1).filterNot(kv => front.contains(kv._1)))
      .filter(kv => only.forall(_(kv._1)))

    val canaryBefore = canary()
    System.err.println(f"[bench] canary before $canaryBefore%.3f s")
    // no System.gc() between queries: a full GC clears the
    // soft-referenced codegen cache, so every later query re-compiles
    // its generated code (t9_tfidf 1.2 s -> 6.4 s)
    val results = ordered.map { case (name, fn) =>
      val t = time(name)(fn(spark, sfDir))
      System.err.println(f"[bench] $name%-28s ${t.sec}%8.2f s")
      t
    }
    val canaryAfter = canary()
    System.err.println(f"[bench] canary after $canaryAfter%.3f s")

    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (record(results, sfDir, canaryBefore, canaryAfter) + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // quiesce logging before stop: the JSON line must be the last line
    // of stdout, and a WARN from SparkContext.stop() or a shutdown hook
    // landing after it would displace it from the tail
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(line(results, sfDir))
    Console.out.flush()
  }
}
