package graft

import org.apache.spark.sql.functions._

import graft.functions.FreqItems

/** Misra-Gries heavy-hitters aggregate: exact regime, approximation
  * guarantees under counter pressure, mergeability across partitions,
  * and the SQL surface; Spark's KLL sketch as the quantile queries use
  * it.
  */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  test("exact regime: k >= distinct => true counts") {
    val df = Seq("a", "b", "a", "c", "a", "b").toDF("s")
    val out = df.agg(FreqItems.freq_items(col("s"), 8).as("hh"))
      .select(explode(col("hh")))
      .select(col("col.item"), col("col.est"))
      .as[(String, Long)].collect().toSeq
    // sorted (est desc, item asc) by the aggregate's contract
    assert(out === Seq(("a", 3L), ("b", 2L), ("c", 1L)))
  }

  test("approximate regime: MG guarantees hold under counter pressure " +
      "across many partitions") {
    // zipfian-ish: token t<i> appears (50 - i) * 20 times for i < 40,
    // plus 2000 singleton tokens; n = sum of all
    val heavy = (0 until 40).flatMap(i =>
      Seq.fill((50 - i) * 20)(s"t$i"))
    val noise = (0 until 2000).map(i => s"noise$i")
    val all = scala.util.Random.shuffle(heavy ++ noise)
    val n = all.size.toDouble
    val k = 64
    val df = all.toDF("s").repartition(16)
    val est = df.agg(FreqItems.freq_items(col("s"), k).as("hh"))
      .select(explode(col("hh")))
      .select(col("col.item"), col("col.est"))
      .as[(String, Long)].collect().toMap
    assert(est.size <= k)
    val exact = (heavy ++ noise).groupBy(identity).view.mapValues(_.size.toLong)
    // one-sided error: est <= true, true - est <= n/(k+1)
    est.foreach { case (item, e) =>
      val t = exact(item)
      assert(e <= t, s"$item overestimated: $e > $t")
      assert(t - e <= n / (k + 1) + 1, s"$item est $e too far from $t")
    }
    // every item with true count > n/(k+1) must survive
    exact.filter(_._2 > n / (k + 1)).keys.foreach { item =>
      assert(est.contains(item), s"heavy item $item missing")
    }
  }

  test("merge is the mergeable-summaries reduction: two partial " +
      "buffers combine within the additive error bound") {
    // force a real multi-buffer merge: 4 partitions, k small; x0's
    // true count (300) exceeds n/(k+1) = 764/11 ≈ 69, so its survival
    // IS guaranteed (items below that bound may legitimately drop)
    val items = Seq.fill(300)("x0") ++
      (1 until 30).flatMap(i => Seq.fill(31 - i)(s"x$i"))
    val df = items.toDF("s").repartition(4)
    val est = df.agg(FreqItems.freq_items(col("s"), 10).as("hh"))
      .select(explode(col("hh"))).select(col("col.item"), col("col.est"))
      .as[(String, Long)].collect().toMap
    val n = items.size.toDouble
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong)
    est.foreach { case (item, e) =>
      assert(e <= exact(item))
      assert(exact(item) - e <= n / 11 + 1)
    }
    assert(est.contains("x0")) // above-threshold item always survives
  }

  test("streaming: freq_items aggregates a MemoryStream in complete " +
      "mode and matches the batch dual (sketch state is mergeable " +
      "across micro-batches)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val batch1 = Seq("a", "b", "a")
    val batch2 = Seq("a", "c", "b", "a")
    mem.addData(batch1: _*)
    mem.addData(batch2: _*)
    val q = mem.toDF().toDF("s")
      .agg(FreqItems.freq_items(col("s"), 8).as("hh"))
      .select(explode(col("hh")))
      .select(col("col.item"), col("col.est"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("hh_stream")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("hh_stream")
      .as[(String, Long)].collect().toSet
    // exact regime (k > distinct) => true totals over all micro-batches
    assert(streamed === Set(("a", 4L), ("b", 2L), ("c", 1L)))
  }

  test("SQL surface: freq_items registered and callable as text") {
    graft.functions.GraftExtensions.register(spark)
    Seq("a", "a", "b").toDF("s").createOrReplaceTempView("hh_in")
    val out = spark.sql(
      "SELECT inline(freq_items(s, 4)) FROM hh_in")
      .as[(String, Long)].collect().toSeq
    assert(out === Seq(("a", 2L), ("b", 1L)))
  }

  test("GraftExtensions registers no Spark built-in name") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    val shadowing = graft.functions.GraftExtensions.builders.keys.filter(n =>
      FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)))
    assert(shadowing.isEmpty)
  }

  // ---- KLL quantile sketch (Spark's built-in kll_*_double) ---------

  test("KLL: rank error within the k=200 bound on a known distribution, " +
      "across many partitions") {
    // values 0..99999 => true quantile at rank r is ~ r * 100000.
    // k=200 one-sided normalized rank error is ~1.65% (99% conf);
    // assert 3% to keep the test stable across coin flips.
    val n = 100000
    val df = (0 until n).map(_.toDouble).toDF("v").repartition(16)
    val qs = df.agg(kll_sketch_get_quantile_double(
        kll_sketch_agg_double(col("v")),
        array(lit(0.1), lit(0.5), lit(0.99))).as("q"))
      .select(col("q").getItem(0), col("q").getItem(1), col("q").getItem(2))
      .as[(Double, Double, Double)].head()
    def rankOf(v: Double): Double = v / n
    assert(math.abs(rankOf(qs._1) - 0.10) < 0.03, s"p10 -> ${qs._1}")
    assert(math.abs(rankOf(qs._2) - 0.50) < 0.03, s"p50 -> ${qs._2}")
    assert(math.abs(rankOf(qs._3) - 0.99) < 0.03, s"p99 -> ${qs._3}")
  }

  test("KLL rollup: merged per-group sketches answer global quantiles " +
      "within the error bound (no rescan)") {
    val n = 60000
    val df = (0 until n).map(i => (i % 3, i.toDouble)).toDF("g", "v")
      .repartition(8)
    val perGroup = df.groupBy("g")
      .agg(kll_sketch_agg_double(col("v")).as("sk"))
    val global = perGroup
      .agg(kll_sketch_get_quantile_double(
        kll_merge_agg_double(col("sk")), array(lit(0.5))).as("q"))
      .select(col("q").getItem(0)).as[Double].head()
    // global median of 0..n-1 is ~n/2; merged estimate must land
    // within the (post-merge) rank error of ~3%
    assert(math.abs(global / n - 0.5) < 0.04, s"merged p50 -> $global")
  }

  test("KLL: plans as ObjectHashAggregate with partial merge (map-side " +
      "sketching; O(k) bytes per group on the shuffle)") {
    val df = (0 until 1000).map(_.toDouble).toDF("v").repartition(4)
      .agg(kll_sketch_agg_double(col("v")).as("sk"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_kll_sketch_agg_double"), plan)
  }
}
