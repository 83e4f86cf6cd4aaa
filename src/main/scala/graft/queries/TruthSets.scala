package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Per-JVM cache of expensive EXACT truth sets shared by several
  * audit/report queries.
  *
  * The exact char-trigram Jaccard pair set at the benched operating
  * point (t = 0.8) is consumed by FOUR independent `SparkEntry.queries`
  * entries — dd7 (the pair set itself), dd6 (cluster-keep edges),
  * dd15 (threshold histogram), dd16/dd19 (sketch-containment audits) —
  * and each entry must stay independently runnable (the driver's
  * Verify invokes them in isolation). Recomputing the prefix-filter
  * join per consumer cost ~43 s of a ~360 s bench run; one
  * localCheckpoint'ed materialization serves every consumer in the
  * same JVM, and a fresh JVM recomputes on first touch — semantics
  * are identical either way because the pair set is deterministic.
  *
  * Scale shape: the pair set is tiny relative to the corpus (true
  * near-dup pairs, not candidates), so the checkpoint holds O(pairs)
  * rows; the 100 TB analogue is writing the pair set to parquet once
  * per pipeline run and pointing every audit at those files.
  *
  * Entries are keyed by (data dir, threshold) and validated against
  * the live SparkContext — a stopped/replaced context (test suites
  * cycle sessions) drops the stale entry and recomputes.
  */
object TruthSets {

  private val cache =
    new ConcurrentHashMap[(String, Double), DataFrame]()

  /** Key prefix of the tiered family's entries, so a tiered pair set
    * and an exact one over the same (dir, threshold) never share a key.
    */
  private val TieredPrefix = "tiered:"

  /** Shared get-or-compute: validates a hit against the LIVE
    * SparkContext and EVICTS invalid entries (stopped/replaced
    * contexts — every temp-session test suite — otherwise pin their
    * checkpointed frames in this JVM-lifetime map forever).
    */
  private def getOrCompute(s: SparkSession, key: (String, Double))(
      compute: => DataFrame): DataFrame = {
    // opportunistic sweep: entries whose context has stopped can
    // never be served again; drop them so long-lived JVMs (sbt test
    // daemons, the bench) don't accumulate dead checkpoint handles
    cache.entrySet().removeIf { e =>
      try e.getValue.sparkSession.sparkContext.isStopped
      catch { case _: Throwable => true }
    }
    val hit = cache.get(key)
    val valid = hit != null &&
      (hit.sparkSession.sparkContext eq s.sparkContext) &&
      !s.sparkContext.isStopped
    if (valid) hit
    else {
      if (hit != null) cache.remove(key)
      val fresh = compute.localCheckpoint(true)
      cache.put(key, fresh)
      fresh
    }
  }

  /** All pairs with char-trigram-set Jaccard >= threshold over
    * `documents`, via [[graft.dedup.Dedup.exactJaccardPairs]] —
    * computed once per (dir, threshold) per JVM, lineage cut.
    */
  def exactJaccardPairs(s: SparkSession, d: String,
      threshold: Double = 0.8): DataFrame =
    getOrCompute(s, (d, threshold))(
      graft.dedup.Dedup.exactJaccardPairs(
        Tables.documents(s, d), "doc_id", "text", threshold = threshold))

  /** The two-tier winnow->exact pair set ([[Clean
    * .tieredNearDupPairsOn]]) — dd20 (the pairs) and dd21 (cluster
    * keep) consume the identical frame; same caching contract as
    * [[exactJaccardPairs]].
    */
  def tieredNearDupPairs(s: SparkSession, d: String,
      threshold: Double = 0.8, dfCap: Int = 16): DataFrame =
    getOrCompute(s, (s"$TieredPrefix$dfCap:$d", threshold))(
      Clean.tieredNearDupPairsOn(Tables.documents(s, d), threshold, dfCap))

  /** Test hook: drop all cached truth sets. */
  private[graft] def clear(): Unit = cache.clear()
}
