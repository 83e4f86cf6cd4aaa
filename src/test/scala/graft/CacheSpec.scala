package graft

/** A query function returns a lazy frame, so nothing can unpersist
  * what it cached on the way: the queries that stage a phase boundary
  * (the pipes), train on a cached vocabulary (bpe) or iterate over
  * pre-partitioned edges (g2's PageRank) must leave the session's
  * CacheManager as they found it.
  */
class CacheSpec extends SparkSpec {

  private def cacheEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  test("bpe1, bpe2, g2 and the pipe queries leave the CacheManager " +
      "empty (sf0.001)") {
    // caches earlier suites of this JVM left are not under test here
    spark.catalog.clearCache()
    Seq("bpe1_train_merges", "bpe2_apply_counts", "g2_pagerank",
      "pipe1_corpus_clean", "pipe2_training_prep", "pipe4_clean_select",
      "pipe5_tiered_prep", "pipe6_auto_prep", "pipe7_blocklist_curate").foreach { q =>
      SparkEntry.queries(q)(spark, sf)
        .write.format("noop").mode("overwrite").save()
      assert(cacheEmpty, s"$q left a cached plan behind")
    }
  }
}
