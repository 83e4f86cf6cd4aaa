package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.{Flagship, Relational}
import graft.similarity.Similarity

/** Physical-plan audits: the properties that make these pipelines hold
  * at 100 TB — filter pushdown into the parquet scan, column pruning,
  * broadcast of aggregated/dimension sides, map-side partial
  * aggregation, shuffle-free top-k — asserted on `.explain` output so
  * a regression (e.g. a cast blocking pushdown) fails CI, not the
  * cluster.
  */
class PlanSpec extends SparkSpec {

  private def formatted(df: DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  /** Final (AQE-resolved) plan string after executing the query. */
  private def executedPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** Expression nodes of the optimized plan, counted as perfbench's
    * `queries.plan_expr_nodes` counts them.
    */
  private def exprNodes(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case n =>
      n.expressions.map(_.collect { case e => e }.size).sum }.sum

  /** All plan nodes, descending THROUGH AQE stage boundaries
    * (materialized stages are leaves to TreeNode.collect).
    */
  private def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val kids = p match {
      case q: QueryStageExec => Seq(q.plan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case other => other.children
    }
    p +: kids.flatMap(flattenPlan)
  }

  test("predicates push down into the parquet scan; columns pruned") {
    val plan = formatted(Relational.pPredicates(spark, sf))
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("GreaterThan(l_extendedprice,1000.0"), plan)
    assert(plan.contains("In(l_returnflag"), plan)
    // ReadSchema must NOT include unprojected columns like l_partkey
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema"))
      .mkString
    assert(!readSchema.contains("l_partkey"), readSchema)
    assert(!readSchema.contains("l_quantity"), readSchema)
  }

  test("dimension lookups broadcast (no shuffle of the fact side)") {
    val plan = executedPlan(Relational.j4DimLookup(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("aggregations keep map-side partial aggregation") {
    val plan = executedPlan(Relational.a5SumPricing(spark, sf))
    // two HashAggregates (partial + final) around one shuffle
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("Exchange hashpartitioning"), plan)
  }

  test("firstOrderedBy (max_by) aggregates partially before the shuffle - no window") {
    val plan = executedPlan(Relational.a6FirstOrdered(spark, sf))
    // struct-valued max_by plans as SortAggregate, but the property that
    // matters at scale holds: partial_max_by runs map-side, so each
    // task reduces to <=1 row per key before the exchange
    assert(plan.contains("partial_max_by"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("brute-force top-k is shuffle-free TakeOrdered") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
    val topk = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
    val plan = executedPlan(topk)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("global top-k (ORDER BY LIMIT) is TakeOrderedAndProject, not a full sort") {
    val plan = executedPlan(
      graft.queries.Relational.o5GlobalTopk(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // per-partition bounded heaps; no global Sort node materializes
    assert(!plan.contains("+- Sort"), plan)
  }

  test("flagship: aggregated dimension sides broadcast under AQE; no cartesian") {
    val plan = executedPlan(Flagship.bldgs(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("upsert of a small delta broadcasts the delta key set (base never shuffles)") {
    val plan = executedPlan(Relational.u1Upsert(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("top-k per group pushes the rank limit (WindowGroupLimit)") {
    val plan = executedPlan(Relational.o3TopkPerGroup(spark, sf))
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("keyless range join and interval join avoid nested loops") {
    val j8 = executedPlan(Relational.j8RangeJoin(spark, sf))
    assert(!j8.contains("BroadcastNestedLoopJoin"), j8)
    assert(!j8.contains("CartesianProduct"), j8)
    val e4 = executedPlan(
      graft.queries.Extensions.e4IntervalJoin(spark, sf))
    assert(!e4.contains("BroadcastNestedLoopJoin"), e4)
    assert(!e4.contains("CartesianProduct"), e4)
  }

  test("minhash banded self-join moves slim rows and reuses one exchange") {
    val pairs = graft.dedup.Dedup.minhashPairs(
      Tables.documents(spark, sf), "doc_id", "text", threshold = 0.2)
    val plan = executedPlan(pairs)
    // the exploded (id, band, band_hash) subplan is identical on both
    // join arms -> Spark computes one exchange and reuses it
    assert(plan.contains("ReusedExchange") ||
      "Exchange hashpartitioning\\(band".r.findAllIn(plan).size == 1, plan)
    // signatures never ride the band shuffle: no `sig` attribute in any
    // Exchange input projection on the banded side
    val exchangeLines = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning(band")).mkString
    assert(!exchangeLines.contains("sig"), exchangeLines)
  }

  test("exact-Jaccard prefix join: no cartesian/nested-loop; df lookup " +
      "broadcasts; verify stays on the codegen merge-scan kernel") {
    val pairs = graft.dedup.Dedup.exactJaccardPairs(
      Tables.documents(spark, sf), "doc_id", "text", threshold = 0.8)
    val plan = executedPlan(pairs)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the exploded gram stream joins the (bounded-vocabulary) df table
    // by broadcast — the big side must not shuffle for the lookup
    assert(plan.contains("BroadcastHashJoin"), plan)
    // exact verify runs the sorted-hash merge scan, not array_intersect
    assert(plan.contains("sorted_intersect_count"), plan)
    assert(!plan.contains("array_intersect"), plan)
  }

  test("sequence packing: prefix sum windows per PARTITION-ID, never globally") {
    val plan = executedPlan(graft.export.Packing.packSequences(
      Tables.documents(spark, sf), "doc_id", "n_chars", budget = 4096L))
    // the distributed prefix sum must key its window on __pid — a
    // global (empty-partition) window would serialize 100 TB into one
    // task, exactly what this operator exists to avoid
    assert(plan.contains("windowspecdefinition(__pid"), plan)
    assert(!plan.contains("windowspecdefinition(id"), plan)
    // base offsets ride a broadcast (driver-computed tiny table)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("broadcast contamination (dd8) reads the corpus ONCE: hit flag " +
      "attached map-side, both counts in a single aggregation") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = graft.queries.Extensions.dd8Contamination(spark, sf)
    df.collect()
    val all = flattenPlan(df.queryExecution.executedPlan)
    // exactly two parquet scans: one corpus-side, one eval-side — the
    // two-branch form cost a THIRD (second corpus scan + explode) plus
    // an n_grams⋈n_hits join, i.e. double-read of 100 TB
    val scans = all.collect { case s: FileSourceScanExec => s }
    assert(scans.size === 2, all.map(_.nodeName).mkString(", "))
    // the eval-gram probe broadcasts; the corpus never shuffles for it
    assert(all.exists(_.nodeName.contains("BroadcastHashJoin")),
      all.map(_.nodeName).mkString(", "))
    assert(!all.exists(_.nodeName.contains("SortMergeJoin")),
      all.map(_.nodeName).mkString(", "))
  }

  test("bloom-pruned contamination: the bloom probe filters the corpus " +
      "gram stream BEFORE any shuffle (scan-adjacent, literal blob)") {
    import org.apache.spark.sql.execution.{FilterExec, GenerateExec}
    val df = graft.queries.Extensions.dd9ContaminationBloom(spark, sf)
    df.collect()
    val all = flattenPlan(df.queryExecution.executedPlan)
    val probes = all.collect {
      case f: FilterExec
          if f.condition.toString.toLowerCase.contains("might_contain") => f
    }
    // the probe exists in the physical plan as a codegen-able Filter...
    assert(probes.nonEmpty, all.map(_.nodeName).mkString(", "))
    probes.foreach { f =>
      // ...and no shuffle below it carries the GRAM stream: the blob
      // is a literal, so the filter runs map-side on the exploded
      // grams and only bloom survivors (true hits + fpp) reach the
      // exact semi-join's exchange. At 100 TB that is the difference
      // between shuffling every corpus gram and shuffling ~the
      // contamination. (The round-14 scale-adaptive fan-out may
      // repartition the RAW (doc_id, text) rows below the probe — a
      // guarded no-op on warehouse-scale scans and never a gram-stream
      // shuffle, so it is exempt here.) The gram stream is whatever a
      // generator below the probe emits, matched by exprId, not by name.
      val below = flattenPlan(f)
      val generated = below.collect {
        case g: GenerateExec => g.generatorOutput.map(_.exprId)
      }.flatten.toSet
      assert(generated.nonEmpty, f.toString)
      val gramShuffles = below.filter(p =>
        p.nodeName.toLowerCase.contains("shuffle") &&
          p.output.exists(a => generated(a.exprId)))
      assert(gramShuffles.isEmpty, f.toString)
    }
  }

  test("unigram logprob: vocabulary joins broadcast; corpus side never shuffles for the lookup") {
    val plan = executedPlan(
      graft.queries.Extensions.t10UnigramLogprob(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("bounded_topn top-k: partial object aggregate, no window sort; == window result") {
    val plan = executedPlan(Relational.o4TopkAgg(spark, sf))
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_bounded_topn"), plan)
    assert(!plan.contains("WindowGroupLimit"), plan)

    val viaAgg = Relational.o4TopkAgg(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val viaWindow = Relational.o3TopkPerGroup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(viaAgg === viaWindow)
  }

  test("freq_items heavy hitters: partial object aggregate — map-side " +
      "sketches, O(k) rows to the shuffle") {
    val plan = executedPlan(Relational.hh1HeavyHitters(spark, sf))
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_freq_items"), plan)
  }

  test("t16/t17 repetition metrics are ZERO-shuffle: per-doc sorted-run " +
      "folds, no Exchange, no Window, no Join anywhere in the plan") {
    for (q <- Seq(
        graft.queries.Extensions.t16TopNgramFrac(spark, sf),
        graft.queries.Extensions.t17DupNgramFrac(spark, sf))) {
      val plan = executedPlan(q)
      assert(!plan.contains("Exchange"), s"repetition metric shuffled:\n$plan")
      assert(!plan.contains("Window"), plan)
      assert(!plan.contains("Join"), plan)
    }
  }

  test("quantized k-means assignment is a pure projection: no Exchange, " +
      "no join — centroids live in the plan as literals") {
    val plan = executedPlan(
      graft.queries.Extensions.km1AssignQ(spark, sf))
    assert(!plan.contains("Exchange"), s"assignment must not shuffle:\n$plan")
    assert(!plan.contains("Join"), plan)
  }

  test("BPE apply joins the vocab by broadcast; the corpus never " +
      "shuffles before the per-doc aggregate") {
    val docs = Tables.documents(spark, sf)
    val merges = graft.text.Bpe.train(docs, "text", nMerges = 2)
    val plan = executedPlan(
      graft.text.Bpe.applyCounts(docs, "text", "doc_id", merges))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("quantized SemDeDup joins on cluster id only — no cartesian, " +
      "no nested loop over the corpus") {
    val plan = executedPlan(
      graft.queries.Extensions.sem1SemdedupQ(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("z-score normalization broadcasts the group stats — the row " +
      "stream never shuffles for the join") {
    val plan = executedPlan(graft.queries.Analytics.nrm1Zscore(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("rank fusion: both system rankings reduce via TakeOrdered, " +
      "not a global sort") {
    val plan = executedPlan(
      graft.queries.Analytics.rrf1RankFusion(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("in-plan OLS is a single pair of aggregates — no join, no window") {
    val plan = executedPlan(graft.queries.Analytics.reg2Multireg(spark, sf))
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("WindowExec"), plan)
    // the Cramer solve is pure projection over the 1-row moment agg;
    // the only joins are the broadcast of that row back onto the scan
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("trigram substring search: candidate set joins back by broadcast") {
    val plan = executedPlan(
      graft.queries.Analytics.sub1TrigramSearch(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("native vector expressions stay inside whole-stage codegen") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
    val df = emb.select(Similarity.cosine(col("embedding"), typedLit(q)).as("sim"))
      .filter(col("sim") > 0.1)
    val plan = executedPlan(df)
    // "*(n)" prefixes mark operators inside a WholeStageCodegen stage:
    // both the cosine projection and the filter must carry one
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("Project") && l.contains("cosine_sim")), plan)
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("Filter")), plan)
  }

  test("t15/msk1 corpus hygiene are pure projections: ZERO Exchange") {
    val p1 = executedPlan(graft.queries.Mining.t15WordDedup(spark, sf))
    assert(!p1.contains("Exchange"), p1)
    val p2 = executedPlan(graft.queries.Mining.msk1TokenMask(spark, sf))
    assert(!p2.contains("Exchange"), p2)
  }

  test("blk1 blocklist filter is a map-only corpus scan: ZERO Exchange, " +
      "and the scan prunes to the two projected columns") {
    val plan = executedPlan(
      graft.queries.Curate.blk1BlocklistHits(spark, sf))
    assert(!plan.contains("Exchange"), plan)
    val fmt = formatted(graft.queries.Curate.blk1BlocklistHits(spark, sf))
    val readSchema = fmt.linesIterator.filter(_.contains("ReadSchema"))
      .mkString
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      readSchema)
  }

  test("dd27 span excision: linear relational passes only — no " +
      "cartesian/nested-loop join, no window, partial aggregation on " +
      "the span-digest groupBy") {
    val plan = executedPlan(
      graft.queries.Extensions.dd27SpanExcise(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
    assert(!plan.contains("WindowExec") && !plan.contains("Window\n"), plan)
    assert(plan.contains("partial_count") || plan.contains("partial_min"),
      plan)
  }

  test("mm3 image near-dup: the binary payload never rides a shuffle — " +
      "every Exchange moves only slim id/band/verify columns") {
    val df = graft.queries.Extensions.mm3ImageDhashNeardup(spark, sf)
    val exchanges = flattenPlan(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    assert(exchanges.nonEmpty, "expected at least the band-join shuffle")
    for (e <- exchanges)
      assert(!e.child.output.exists(a =>
          a.dataType == org.apache.spark.sql.types.BinaryType),
        s"binary column shuffles: ${e.child.output.map(_.name)}")
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
  }

  test("mm4 audio near-dup: the binary payload never rides a shuffle — " +
      "every Exchange moves only slim id/band/verify columns") {
    val df = graft.queries.Extensions.mm4AudioNeardup(spark, sf)
    val exchanges = flattenPlan(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    assert(exchanges.nonEmpty, "expected at least the band-join shuffle")
    for (e <- exchanges)
      assert(!e.child.output.exists(a =>
          a.dataType == org.apache.spark.sql.types.BinaryType),
        s"binary column shuffles: ${e.child.output.map(_.name)}")
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
  }

  test("mm5 video near-dup: the binary payload never rides a shuffle — " +
      "every Exchange moves only slim id/frame/band/verify columns") {
    val df = graft.queries.Extensions.mm5VideoNeardup(spark, sf)
    val exchanges = flattenPlan(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    assert(exchanges.nonEmpty, "expected at least the band-join shuffle")
    for (e <- exchanges)
      assert(!e.child.output.exists(a =>
          a.dataType == org.apache.spark.sql.types.BinaryType),
        s"binary column shuffles: ${e.child.output.map(_.name)}")
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
  }

  test("rec1 co-occurrence: no lineitem self-join — pairs explode within the basket row; item counts broadcast") {
    val plan = executedPlan(graft.queries.Mining.rec1ItemCooc(spark, sf))
    // two Generate nodes (the two explodes), no SortMergeJoin anywhere
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("Generate"), plan)
  }

  test("bs1 and perm1: replicates are rows keyed by b — under 1,000 expression nodes, one aggregate grouped by b, one scan, no join") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    Seq(graft.queries.Mining.bs1BootstrapCi(spark, sf),
        graft.queries.Stats.perm1PermutationTest(spark, sf)).foreach { df =>
      val plan = df.queryExecution.optimizedPlan
      // the unrolled form spelled every replicate out as its own
      // aggregate columns: thousands of nodes, growing with B
      assert(exprNodes(df) < 1000, plan)
      val byReplicate = plan.collect {
        case a: Aggregate if a.groupingExpressions.collect {
          case k: Attribute => k.name } == Seq("b") => a
      }
      assert(byReplicate.size == 1, plan)
      assert(plan.collectLeaves().size == 1, plan)
      assert(plan.collect { case j: Join => j }.isEmpty, plan)
    }
  }

  test("ann6 and ann7: query vectors and centroids are data — ann6 under 1,000 expression nodes, ann7 under 2,000 with one approximate branch per method") {
    import org.apache.spark.sql.catalyst.plans.logical.Union
    val ann6 = graft.queries.Extensions.ann6Pq(spark, sf)
    assert(exprNodes(ann6) < 1000, ann6.queryExecution.optimizedPlan)
    val ann7 = graft.queries.Extensions.ann7RecallAudit(spark, sf)
    val plan = ann7.queryExecution.optimizedPlan
    assert(exprNodes(ann7) < 2000, plan)
    val unions = plan.collect { case u: Union => u.children.size }
    assert(unions == Seq(3), plan)
  }

  test("seq1 sequence mining: lead windows partition per user — no partition-less window") {
    val plan = graft.queries.Mining2.seq1EventTrigrams(spark, sf)
      .queryExecution.sparkPlan.toString
    // physical Window prints [exprs], [partitionSpec], [orderSpec] —
    // the partition spec must name the user key
    val win = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(win.nonEmpty, plan)
    assert(win.forall(_.matches(""".*Window \[.*\], \[user_id#\d+L\],.*""")), plan)
  }

  test("dbs1 grid density: cell counts join back broadcast; one shuffle for the cell aggregate") {
    val plan = executedPlan(graft.queries.Mining2.dbs1GridDensity(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("imp1 imputation: medians broadcast back over the stream; the event scan never shuffles for the lookup") {
    val plan = executedPlan(graft.queries.Mining3.imp1MedianImpute(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("att1 attribution: the running-last window partitions by the user key") {
    val plan = graft.queries.Behavior.att1LastTouch(spark, sf)
      .queryExecution.sparkPlan.toString
    val win = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(win.nonEmpty, plan)
    assert(win.forall(_.matches(""".*Window \[.*\], \[user_id#\d+L\],.*""")), plan)
  }

  test("tt1 Welch: both groups' moments come from ONE event scan — no join, no window") {
    // sparkPlan, not executedPlan: AQE toString prints Final AND
    // Initial plans, double-counting scans
    val plan = graft.queries.Behavior.tt1WelchTtest(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1, plan)
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
  }

  test("te1 target encoding: segment stats broadcast back; no cartesian anywhere") {
    val plan = executedPlan(graft.queries.Behavior.te1TargetEncode(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("fc1 backtest: the 7-row seasonal table joins back broadcast") {
    val plan = executedPlan(graft.queries.Series.fc1SeasonalBacktest(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("rol1 rolling distinct: pure fan-out + aggregates — no window, no sort-merge join") {
    val plan = executedPlan(graft.queries.Series.rol1RollingDistinct(spark, sf))
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("isl1 islands: the anchor window partitions by the customer key") {
    val plan = graft.queries.Series.isl1GapsIslands(spark, sf)
      .queryExecution.sparkPlan.toString
    val win = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(win.nonEmpty, plan)
    assert(win.forall(_.matches(""".*Window \[.*\], \[custkey#\d+L\],.*""")), plan)
  }

  test("chk1 checksum: three pruned scans, zero joins, partial aggregation") {
    val plan = graft.queries.Series.chk1RowChecksum(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 3, plan)
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  // ---- round-12 batches ------------------------------------------------

  test("psm matching core: banded candidates equi-join, argmin is a " +
      "partial-aggregable struct-min — no cartesian, no nested loop, " +
      "no window") {
    val base = Tables.customer(spark, sf)
      .select(col("c_custkey").as("id"), col("c_acctbal").as("score"),
        lit(1L).as("y"))
    val m = graft.queries.Robust.nearestWithinCaliper(
      base.filter(col("id") % 2 === 0),
      base.filter(col("id") % 2 === 1), 100.0)
    val plan = executedPlan(m)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_min"), plan)
  }

  test("hw1: the whole Holt-Winters recursion is ONE aggregate pass " +
      "over one scan — no join, no window") {
    val plan = graft.queries.Season.hw1HoltWinters(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1, plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("conf1: per-segment stats and qhat broadcast back; the rank " +
      "window partitions by segment") {
    val df = graft.queries.Robust.conf1SplitConformal(spark, sf)
    val plan = executedPlan(df)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    val sp = graft.queries.Robust.conf1SplitConformal(spark, sf)
      .queryExecution.sparkPlan.toString
    val win = sp.linesIterator.filter(_.contains("Window [")).toSeq
    assert(win.nonEmpty, sp)
    assert(win.forall(_.matches(""".*Window \[.*\], \[segment#\d+\],.*""")),
      sp)
  }

  test("qn1: the quantile window partitions by the group key") {
    val sp = graft.queries.Shape.qn1QuantileNormalize(spark, sf)
      .queryExecution.sparkPlan.toString
    val win = sp.linesIterator.filter(_.contains("Window [")).toSeq
    assert(win.nonEmpty, sp)
    assert(win.forall(_.matches(""".*Window \[.*\], \[priority#\d+\],.*""")),
      sp)
  }

  test("bt1: the MM loop joins the item-bounded pair table — no " +
      "cartesian anywhere (the 1-row normalizer broadcasts)") {
    val plan = executedPlan(graft.queries.Pref.bt1BradleyTerry(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("global-window sweep: every partition-less WindowExec in the " +
      "committed query surface is whitelisted with a domain bound") {
    // A WindowExec with an empty partitionSpec moves its ENTIRE input
    // to one task (single-partition sort). That is fine over a
    // bounded aggregate domain (a decile table, an ECDF over 50 bins)
    // and a 100x-scale bug over a row-scaling domain (the r8 gini1
    // finding, since fixed via ops.GlobalRank). The r7 edge-type
    // episode showed conventions slip by habit: this sweep makes the
    // judgement mechanical. Every query whose physical plan contains
    // a global WindowExec must appear below WITH the cardinality
    // argument that bounds the window's input; an unlisted site fails
    // the build, and a stale whitelist row (site removed) also fails
    // so the list cannot rot.
    import org.apache.spark.sql.execution.window.WindowExec
    val whitelist: Map[String, String] = Map(
      // name -> why the global window's input is bounded (not O(rows)).
      // Everything that ranked/cumulated over a row-scaling domain
      // (per-part, per-user, distinct-raw-value aggregates) moved to
      // ops.GlobalRank this round: gini1, abc1, ate1, rfm1, lift1's
      // decile assignment, auc1, cal1, ks1, srk1, wmed1, sky1, prc1's
      // below-counts, qq1.
      "acf1_autocorr" -> "input = 30 daily aggregate rows (fixed 30-day window)",
      "ann1_bruteforce" -> "rank window runs AFTER bruteForceTopK: k = 10 rows",
      "cpt1_cusum_changepoint" -> "CUSUM + argmax over 30 daily rows (fixed date window)",
      "cum1_cumulative_uniques" -> "input = first-seen-day aggregate, <= 31 day rows",
      "fair1_bias_audit" -> "input = per-language count rows, bounded by the language inventory (5)",
      "ks2_daily_drift" -> "reference-CDF window over value div 10 bins, <= ~50 rows",
      "lift1_qini_deciles" -> "cumulative window over the 10-row decile aggregate (decile ASSIGNMENT runs the rank kernel)",
      "ndcg1_ranking_metrics" -> "window over the 10-row broadcast IDCG range table",
      "ots1_otsu_threshold" -> "threshold scan + argmax over floor(value) histogram bins (~560)",
      "prc1_pr_lift_curve" -> "best-f1 rank over the 9-row threshold table (below-counts run the prefix kernel)",
      "rrf1_rank_fusion" -> "rank windows after top-k limits: 50 dense rows, 20 fused rows",
      "run1_runs_test" -> "input = 30 daily rows",
      "sax1_sax_symbols" -> "input = 30 daily rows",
      "seg1_binary_segmentation" -> "input = 30 daily rows per split round",
      "sprt1_sequential_llr" -> "input = 30 daily rows",
      "stl1_decompose" -> "input = 30 daily rows",
      "surv1_kaplan_meier" -> "input = distinct event days, <= 31",
      "t13_bm25" -> "rank window after the TakeOrdered limit(k = 20)",
      "theil1_theilsen_slope" -> "input = day-pair slopes, <= C(31,2) = 465 rows",
      "ucb1_bandit_scores" -> "argmax over 5 arm rows",
      "wow1_weekly_growth" -> "input = <= 6 weekly rollup rows",
      "zipf1_rank_frequency" -> "rank window after limit(100)")
    val found = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val df = fn(spark, sf)
        val globals = flattenPlan(df.queryExecution.executedPlan).collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
        if (globals.nonEmpty) Seq(name) else Nil
    }.toSet
    val unlisted = found -- whitelist.keySet
    val stale = whitelist.keySet -- found
    assert(unlisted.isEmpty && stale.isEmpty,
      s"unlisted global WindowExec sites: ${unlisted.toSeq.sorted}\n" +
        s"stale whitelist rows: ${stale.toSeq.sorted}\n" +
        s"full found set: ${found.toSeq.sorted}")
  }
}
