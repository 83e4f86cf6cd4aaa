package graft.sampling

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus sampling / mixing for training-data pipelines: seeded
  * stratified sampling (per-language quotas) and weighted multi-source
  * mixing — the standard "data recipe" operations applied before
  * training. Both are thin, deterministic wrappers over Spark's
  * Bernoulli samplers: a pure map over the scan (no shuffle), so they
  * run at full scan speed on any corpus size.
  */
object Sampling {

  /** Keep each stratum of `stratumCol` with its own fraction
    * (unlisted strata are dropped). Seeded => reproducible data
    * recipes.
    */
  def stratifiedSample(
      df: DataFrame,
      stratumCol: String,
      fractions: Map[String, Double],
      seed: Long = 42L): DataFrame =
    df.stat.sampleBy(stratumCol, fractions, seed)

  /** Engine-portable stratified Bernoulli sample: keep a row iff its
    * [[knuthPriority]] (a uniform 32-bit hash of `key`) falls below
    * `fraction * 2^32` for its stratum. Same semantics as
    * [[stratifiedSample]] — per-stratum inclusion probability =
    * fraction, unlisted strata dropped, pure map over the scan (no
    * shuffle) — but the draw is plain integer arithmetic, so a DuckDB/
    * Postgres oracle reproduces the EXACT row set, and the sample is
    * stable across engines, partitionings, and Spark versions.
    * Requires a non-negative integral key < 2^31 (see knuthPriority).
    */
  def stratifiedSampleByHash(
      df: DataFrame,
      stratumCol: String,
      key: Column,
      fractions: Map[String, Double],
      seed: Long = 42L): DataFrame = {
    require(fractions.values.forall(f => f >= 0 && f <= 1.0),
      s"fractions must be in [0,1]: $fractions")
    // threshold in hash space; 1.0 => 2^32 => every priority qualifies
    val thresh = fractions.foldLeft(lit(null).cast("long")) {
      case (acc, (stratum, f)) =>
        when(col(stratumCol) === stratum,
          lit(math.floor(f * 4294967296.0).toLong)).otherwise(acc)
    }
    df.filter(knuthPriority(key, seed) < thresh)
  }

  /** Weighted mix of sources: sample each source at its weight (<= 1.0)
    * and union — e.g. 100% wiki + 30% web + 5% forums.
    */
  def weightedMix(
      sources: Seq[(DataFrame, Double)],
      seed: Long = 42L): DataFrame = {
    require(sources.nonEmpty)
    sources.zipWithIndex.map { case ((df, w), i) =>
      require(w > 0 && w <= 1.0, s"weight must be in (0,1]: $w")
      if (w >= 1.0) df else df.sample(withReplacement = false, w, seed + i)
    }.reduce(_ unionByName _)
  }

  // ---- fixed-SIZE deterministic sampling (hash-priority bottom-k) --

  /** Sampling priority of a row: a seeded Knuth multiplicative hash
    * of its key. Rows are "reservoir-sampled" by keeping the k SMALLEST
    * priorities — the distributed-native formulation of reservoir
    * sampling (priority / consistent sampling): order-independent,
    * mergeable (bounded heaps compose), reproducible across runs AND
    * across engines, and re-runnable incrementally (a new row
    * displaces the current max priority iff its hash is smaller — no
    * resampling of history). Plain integer arithmetic, no
    * engine-specific hash, so a DuckDB/Postgres oracle can reproduce
    * the exact sample. Requires a non-negative integral key < 2^31
    * (the multiply must not overflow a 64-bit signed int under ANSI
    * mode).
    */
  def knuthPriority(key: Column, seed: Long): Column =
    pmod(key.cast("long") * lit(2654435761L) + lit(seed),
      lit(4294967296L))

  /** Weighted-sampling priority (Efraimidis–Spirakis A-ES, log form):
    * keeping the k SMALLEST -ln(u)/w draws a without-replacement
    * sample where inclusion probability is proportional to `weight` —
    * the standard "sample by doc length / quality score" corpus
    * operation. u derives from [[knuthPriority]] mapped into (0, 1],
    * so the draw is deterministic AND engine-portable (ln is the only
    * non-integer step; both engines compute it to <=1 ulp). The result
    * is quantized to 6 decimals so a cross-engine comparison ranks
    * identically — ulp-level ln differences cannot flip an order
    * unless two quantized priorities tie, and ties break by key
    * downstream.
    *
    * Weights must be strictly positive; rows with null/non-positive
    * weight get NULL priority. Callers must filter those rows OUT
    * before [[sampleKPerGroup]] — a null FIELD inside the selection
    * struct sorts first in Spark's struct ordering, which would
    * select exactly the rows that should never be drawn.
    */
  def weightedPriority(key: Column, weight: Column, seed: Long): Column = {
    val u = (knuthPriority(key, seed) + lit(1L)).cast("double") /
      lit(4294967296.0) // (0, 1]
    round(-log(u) / when(weight > 0, weight.cast("double")), 6)
  }

  /** Deterministic k-sample per group: bounded-heap bottom-k by
    * priority inside a partial aggregate ([[graft.functions
    * .BoundedTopN]]) — only k rows per group per TASK reach the
    * shuffle, so a group with a billion rows costs the same shuffle
    * bytes as a group with k. Ties cannot occur (priority, key) is
    * total when keys are unique; duplicate keys tiebreak by key.
    *
    * Returns the input columns of `payload` plus nothing else; the
    * priority is stripped after selection.
    */
  def sampleKPerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      priority: Column,
      payload: Seq[(String, Column)],
      k: Int): DataFrame = {
    val e = struct(
      (priority.as("__prio") +: payload.map { case (n, c) => c.as(n) }): _*)
    df.groupBy(groupCols.map(col): _*)
      .agg(graft.functions.AggFunctions.bounded_topn(e, k).as("__sample"))
      .select((groupCols.map(col) :+ explode(col("__sample")).as("__r")): _*)
      .select((groupCols.map(col) ++
        payload.map { case (n, _) => col(s"__r.$n") }): _*)
  }

  // ---- deterministic global training order ------------------------

  /** Seeded deterministic global shuffle with a MATERIALIZED rank —
    * the "shuffle the corpus before training" step: every row gets
    * its exact 0-based position in the seeded permutation, stable
    * across runs, engines, and input partitioning (the order is a
    * pure function of (seed, key), [[knuthPriority]], so a rerun or a
    * different engine reproduces byte-identical training order — the
    * reproducibility contract data recipes need).
    *
    * Scale shape: NO single-partition global window. Rank is the
    * distributed prefix-count (the [[graft.export.Packing
    * .packSequences]] recipe with len == 1): range-partition by
    * (priority, key) — Spark samples range boundaries, so partitions
    * stay balanced — then per-partition counts -> driver cumsum over
    * #partitions rows -> broadcast base offsets + partition-local
    * window. The assignment is frozen by one eager localCheckpoint
    * for the same two-jobs-one-partitioning reason documented there.
    *
    * Same key constraint as [[knuthPriority]]: non-negative integral
    * key < 2^31.
    */
  def trainingOrder(df: DataFrame, idCol: String, seed: Long): DataFrame = {
    val spark = df.sparkSession
    val slim = df
      .select(col(idCol).cast("long").as("id"))
      // seed enters BEFORE the multiply: (id*A + seed) shifts every
      // priority by the same constant, which is order-PRESERVING
      // except at the mod wrap — the "new seed" would replay the old
      // permutation (caught by SamplingSpec). (id + seed)*A genuinely
      // re-permutes per seed and stays engine-portable.
      .withColumn("__pri", knuthPriority(col("id") + lit(seed), 0L))
      .repartitionByRange(col("__pri"), col("id"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val totals = slim.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__t"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .sortBy(_._1)
    var acc = 0L
    val bases = totals.map { case (pid, t) =>
      val base = (pid, acc); acc += t; base
    }
    val baseDf = broadcast(
      spark.createDataFrame(bases.toSeq).toDF("__pid", "__base"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(col("__pri"), col("id"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    slim.join(baseDf, Seq("__pid"))
      .withColumn("__rank",
        coalesce(count(lit(1)).over(w), lit(0L)) + col("__base"))
      .select(col("id").as(idCol), col("__rank").as("train_order"))
  }
}
