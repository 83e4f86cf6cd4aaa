package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Ops._

/** The reference's relational operator surface (SURVEY.md §2.2-§2.8)
  * re-expressed as idiomatic DataFrame pipelines, one named query per
  * operator family, each with a DuckDB oracle (SparkEntry contract).
  *
  * Determinism conventions (so Spark and DuckDB hash-match):
  *  - double sums go through DECIMAL(18,2) ([[graft.ops.Ops.dsum]]) —
  *    associative, order-independent;
  *  - every top-1/distinct-on has a total deterministic ordering;
  *  - no bare double->int casts (Spark truncates, DuckDB rounds): always
  *    floor() first;
  *  - DuckDB integer sums are cast to BIGINT (DuckDB widens to HUGEINT).
  */
object Relational extends QueryModule {

  // ---- A1: GROUP BY + count(*)  (wow_original…sql:22-26) ----
  def a1GroupCount(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))

  // ---- A2: conditional count  (wow_original…sql:23) ----
  def a2ConditionalCount(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(
        countWhere(col("o_orderstatus") === "O").as("open_orders"),
        count(lit(1)).as("total_orders"))

  // ---- A3 + P9: filtered count over a date lookback window
  //      (wow_2021…sql:58: receiveddate > CURRENT_DATE - '3 YEARS') ----
  // Fixed anchor date (not current_date) so the result is deterministic.
  def a3FilteredRecent(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(countWhere(
        col("o_orderdate") > expr("TIMESTAMP '2001-01-01 00:00:00' - INTERVAL '3' YEAR"))
        .as("recent_orders"))

  // ---- A4: filtered min  (wow_2021…sql:116-117) ----
  def a4FilteredMin(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(minWhere(col("o_orderpriority") === "1-URGENT", col("o_orderdate"))
        .as("first_urgent"))

  // ---- A5 + A10: sums over multi-key groups (TPC-H q1 shape) ----
  def a5SumPricing(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n"))

  // ---- A6 + O1: ordered first() per group — latest order per customer
  //      (wow_2020…sql:8-28 `first(...)` over docdate-desc CTE) ----
  // max_by(struct) form: partial-aggregating, no sort, skew-tolerant.
  def a6FirstOrdered(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).firstOrderedBy(
      groupKeys = Seq(col("o_custkey")),
      orderKeys = Seq(col("o_orderdate"), col("o_orderkey")),
      payload = Seq(
        "last_orderdate" -> col("o_orderdate"),
        "last_orderkey" -> col("o_orderkey"),
        "last_totalprice" -> col("o_totalprice")))

  // ---- A7 + O2: ordered+filtered array-of-struct agg, flattened
  //      (wow_2021…sql:43-46 json_agg(json_build_object ORDER BY) FILTER) ----
  def a7ArrayAgg(s: SparkSession, d: String): DataFrame = {
    val perPriority = Tables.orders(s, d)
      .groupBy(col("o_custkey"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    val agged = perPriority
      .groupBy(col("o_custkey"))
      .agg(arrayAggOrderedFilteredDesc(
        col("n") > 0,
        struct(col("n"), col("o_orderpriority"))).as("arr"))
    // posexplode flattens the array so the element ORDER is part of the
    // oracle-checked output (SURVEY.md §7.4: array order must be hashed).
    agged.select(col("o_custkey"), posexplode(col("arr")))
      .select(
        col("o_custkey"),
        col("pos").cast("int").as("idx"),
        col("col.n").as("n"),
        col("col.o_orderpriority").as("o_orderpriority"))
  }

  // ---- A8: two-level aggregation (wow_2021…sql:38-65) ----
  def a8TwoLevel(s: SparkSession, d: String): DataFrame = {
    val inner = Tables.orders(s, d)
      .groupBy(col("o_custkey"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    inner.groupBy(col("o_custkey"))
      .agg(
        sum(col("n")).as("total"),
        max(col("n")).as("max_per_priority"),
        count(lit(1)).as("n_priorities"))
  }

  // ---- A9: string_agg with deterministic ordering (db_perms.py:36) ----
  def a9StringAgg(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .groupBy(col("c_nationkey"))
      .agg(concat_ws(",", sort_array(collect_set(col("c_mktsegment"))))
        .as("segments"))

  // ---- D1: DISTINCT ON — best-balance customer per nation
  //      (wow_original…sql:7; deterministic tiebreak per SURVEY §7.4) ----
  def d1DistinctOn(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .distinctOn(
        keys = Seq(col("c_nationkey")),
        tiebreak = Seq(col("c_acctbal").desc, col("c_custkey").asc))
      .select(col("c_nationkey"), col("c_custkey"), col("c_name"), col("c_acctbal"))

  // ---- J1 + F1: left join table vs aggregated subquery + coalesce
  //      (wow_original…sql:20-52) ----
  def j1LeftJoinAgg(s: SparkSession, d: String): DataFrame = {
    val perCust = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("spend"))
    Tables.customer(s, d)
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(
        col("c_custkey"), col("c_name"),
        coalesce(col("n"), lit(0L)).as("n_orders"),
        coalesce(col("spend"), lit(0.0)).as("total_spend"))
  }

  // ---- J2: LEFT JOIN … USING(col)  (wow_2020…sql:13) ----
  def j2UsingJoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).withColumnRenamed("o_orderkey", "orderkey")
    val l = Tables.lineitem(s, d).withColumnRenamed("l_orderkey", "orderkey")
    o.join(l, Seq("orderkey"), "left")
      .groupBy(col("orderkey"))
      .agg(
        count(col("l_linenumber")).as("n_lines"),
        dsum(col("l_extendedprice")).as("gross"))
  }

  // ---- J3: inner join on composite condition + inequality
  //      (db_perms.py:47,51) ----
  def j3CompositeJoin(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    l.join(o,
        l("l_orderkey") === o("o_orderkey") && l("l_shipdate") > o("o_orderdate"),
        "inner")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_shipped_after"))
  }

  // ---- J4 + J5: key-name-mismatched joins through broadcast lookup dims
  //      (wow_original…sql:52; wow_2021…sql:119) ----
  def j4DimLookup(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"))
  }

  def j5BroadcastLookup(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
    val p = Tables.part(s, d)
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"), "inner")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
  }

  // ---- semi/anti joins (EXISTS — db_perms.py:12-18; Spark built-ins) ----
  def jSemi(s: SparkSession, d: String): DataFrame = {
    val withOrders = Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
    withOrders.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_active"))
  }

  /** Bloom-filter join pruning (the explicit runtime-filter shape):
    * aggregate the selective dim side's join keys into one broadcast
    * bloom blob, drop fact rows that cannot match BEFORE the join, then
    * let the exact semi-join remove the bloom's false positives. No
    * false negatives ⇒ result identical to the plain semi-join (the
    * oracle); the bloom only changes how many fact rows reach the join.
    * At 100 TB this is the difference between shuffling the full fact
    * table and shuffling the ~matching slice.
    */
  def bf1BloomPrune(s: SparkSession, d: String): DataFrame = {
    import graft.functions.BloomFunctions._
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > 150000)
      .select(col("o_orderkey"))
    // 2^17 bits = 16 KiB blob: >10 bits/key up to ~13k build keys
    // (fpp <1%); production sizes m from the dim-side count estimate.
    // The blob is materialized on the driver and injected as a LITERAL
    // (one small job over the already-filtered dim side): a broadcast
    // cross-join would leave the probe as a join child that Catalyst's
    // reorder can (and does) hoist ABOVE the exact semi-join, running
    // the bloom after the join it exists to protect. As a literal the
    // probe is a plain scan-adjacent codegen filter — nothing can
    // reorder it, and the fact scan never emits non-candidate rows.
    val blob = urgent
      .agg(bloom_agg(col("o_orderkey"), 1 << 17, 7).as("bf"))
      .head().getAs[Array[Byte]](0)
    val pruned = Tables.lineitem(s, d)
      .filter(might_contain(lit(blob), col("l_orderkey")))
    pruned
      .join(broadcast(urgent), col("l_orderkey") === col("o_orderkey"),
        "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
  }

  def jAnti(s: SparkSession, d: String): DataFrame = {
    val urgent = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
    Tables.customer(s, d)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  /** Incremental aggregation maintenance: the orders table arrives as
    * two "daily load" delta batches (split on o_orderdate); each folds
    * into a per-priority state of mergeable partials with one pass
    * over the delta only. The folded state must equal the direct
    * aggregate over all history — the oracle — while never rescanning
    * batch 1 when batch 2 lands.
    */
  def u3IncrementalAgg(s: SparkSession, d: String): DataFrame = {
    import graft.ops.IncrementalAgg
    val orders = Tables.orders(s, d)
    val keys = Seq("o_orderpriority")
    val partial = Seq(
      count(lit(1)).as("n"),
      sum(col("o_totalprice").cast("decimal(18,2)")).as("total_dec"),
      min(col("o_orderdate")).as("first_date"),
      max(col("o_orderdate")).as("last_date"))
    val merge = Seq(
      sum(col("n")).as("n"),
      sum(col("total_dec")).as("total_dec"),
      min(col("first_date")).as("first_date"),
      max(col("last_date")).as("last_date"))
    val cutoff = "1998-01-01"
    val s0 = IncrementalAgg.emptyState(orders, keys, partial)
    val s1 = IncrementalAgg.fold(
      s0, orders.filter(col("o_orderdate") < cutoff), keys, partial, merge)
    val s2 = IncrementalAgg.fold(
      s1, orders.filter(col("o_orderdate") >= cutoff), keys, partial, merge)
    s2.select(col("o_orderpriority"), col("n"),
      col("total_dec").cast("double").as("total"),
      col("first_date"), col("last_date"))
  }

  // ---- P1-P8: projection / rename / predicate battery
  //      (wow_original…sql:8-19,41; wow_2020…sql:14) ----
  def pPredicates(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(
        col("l_extendedprice") > 1000 &&
        col("l_returnflag").isin("A", "R") &&
        col("l_linestatus") === "F" &&
        col("l_shipdate").isNotNull &&
        (col("l_discount") > 0.05 || col("l_tax") > 0.05))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").as("price"),
        col("l_returnflag").as("flag"))

  // ---- P6: case-insensitive regex (wow_2021…sql:120 `~* '421a'`) ----
  def p6Regex(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("text").rlike("(?i)(spark|stream)"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_matching"))

  // ---- P10: LIKE prefix (load_dataset.py:86-88) ----
  def p10LikePrefix(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderpriority").like("1-%"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_urgent"))

  // ---- F1-F5: scalar battery — coalesce/case/cast/arith/const
  //      (wow_2021…sql:31-33,54-57,82,84-85) ----
  def fScalars(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        coalesce(col("o_totalprice"), lit(0.0)).as("price"),
        when(col("o_orderstatus") === "O", "open")
          .when(col("o_orderstatus") === "F", "done")
          .otherwise("other").as("status_label"),
        floor(col("o_totalprice")).cast("int").as("price_floor"),
        (col("o_orderkey") % 100).cast("smallint").as("key_mod"),
        (col("o_totalprice") - col("o_totalprice") * col("o_orderkey") % 7).as("arith"),
        lit(2021).as("vintage"))

  // ---- F9: timestamp format bucketing (wowutil.py:96,116-118) ----
  def f9DateFormat(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .agg(count(lit(1)).as("n"))

  // ---- F6: JSON extraction (wow_2021…sql:44 json_build_object dual) ----
  def f6Json(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))

  // ---- set ops: UNION ALL (SURVEY §2.7) ----
  def setUnion(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    c.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_mktsegment"))
      .unionByName(
        c.filter(col("c_mktsegment") === "AUTOMOBILE")
          .select(col("c_custkey"), col("c_mktsegment")))
  }

  // ---- set ops beyond UNION: INTERSECT / EXCEPT (Spark built-ins) ----
  def s2IntersectExcept(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val building = c.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_nationkey")).distinct()
    val machinery = c.filter(col("c_mktsegment") === "MACHINERY")
      .select(col("c_nationkey")).distinct()
    building.intersect(machinery)
      .withColumn("op", lit("both"))
      .unionByName(building.except(machinery)
        .withColumn("op", lit("building_only")))
  }

  // ---- grouping sets: ROLLUP (superset of the reference's aggs) ----
  def a12Rollup(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))

  def a16Cube(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))

  // ---- fixed-width histogram binning (corpus/data profiling) ----
  def a17Histogram(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(floor(col("o_totalprice") / 50000.0).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("bucket_total"))

  // ---- one-pass per-column profile (data-quality probe) ----
  def prof1Profile(s: SparkSession, d: String): DataFrame =
    graft.ops.Profiler.profile(Tables.customer(s, d))

  // ---- distinct counts: exact + approximate (HLL) ----
  def a13DistinctCounts(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("n_orders"),
        count(lit(1)).as("n_lines"))

  /** HLL sketch counts — engine-specific estimates, rows-only check;
    * accuracy asserted against exact counts in ScalaTest.
    */
  def a14ApproxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"))

  /** Mergeable HLL sketch rollup (DataSketches-backed built-ins): build
    * one sketch per group, then UNION the group sketches into the
    * global estimate WITHOUT rescanning the data — the incremental
    * distinct-count shape for 100 TB (store sketches per
    * partition/day, merge on demand; re-aggregation cost is
    * O(sketches), not O(rows)). Rows-only check (estimates are
    * engine-specific); accuracy and lossless merge are asserted in
    * OpsSpec.
    */
  def a19HllRollup(s: SparkSession, d: String): DataFrame = {
    // materialize the (3-row) sketch table once: both union branches
    // reference it, and without materialization the lazy plan would
    // re-scan and re-aggregate lineitem per branch — the exact rescan
    // this operator exists to avoid. localCheckpoint (not persist):
    // persist() pins a CacheManager entry for the session lifetime
    // unless the caller unpersists, which a queries()-map entry can't
    // arrange; checkpointed blocks are GC'd with the plan reference
    // (production stores the sketch table at rest instead)
    val perFlag = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(hll_sketch_agg(col("l_orderkey"), 14).as("sk"))
      .localCheckpoint(true)
    perFlag
      .select(col("l_returnflag"),
        hll_sketch_estimate(col("sk")).as("n_orders_est"))
      .unionByName(perFlag
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"), true))
          .as("n_orders_est"))
        .select(lit("__ALL__").as("l_returnflag"), col("n_orders_est")))
  }

  /** Driver-visible accuracy gate for the HLL family (a14/a19's
    * dd16-style containment twin): per group the EXACT distinct count
    * (cross-engine hash-checked) plus a boolean `hll_ok` asserting
    * the HLL estimate — per-group sketches AND the merged-union
    * rollup — lands within 5x its configured rsd. The oracle emits
    * literal TRUE: if a sketch ever drifts outside the bound the
    * driver gate goes red, which moves the accuracy claim from
    * ScalaTest into the two-engine gate. 5% on an rsd=0.01 (resp.
    * lgK=14 ~ 0.8%) sketch is a >5-sigma bound — deterministic for a
    * fixed input and astronomically unlikely to trip on a
    * regenerated vintage.
    */
  def a21SketchAccuracy(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    // exact distinct and the sketches aggregate SEPARATELY, joined on
    // the 3-row group key: countDistinct mixed into the same agg as a
    // TypedImperativeAggregate (hll_sketch_agg) forces the Expand +
    // sort-based fallback, whose per-expanded-row sketch buffer churn
    // measured 48 s where the split form runs ~7 s (A21 probe, sf0.1)
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n_orders"))
    val perFlag = li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey"), 0.01).as("est"),
        hll_sketch_agg(col("l_orderkey"), 14).as("sk"))
      .join(exact, Seq("l_returnflag"))
      .localCheckpoint(true)
    val flagRows = perFlag.select(col("l_returnflag"), col("n_orders"),
      (abs(col("est") - col("n_orders")).cast("double") /
        col("n_orders") <= 0.05).as("hll_ok"))
    val allRow = perFlag
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), true)).as("est"))
      .crossJoin(broadcast(
        li.agg(countDistinct(col("l_orderkey")).as("n_orders"))))
      .select(lit("__ALL__").as("l_returnflag"), col("n_orders"),
        (abs(col("est") - col("n_orders")).cast("double") /
          col("n_orders") <= 0.05).as("hll_ok"))
    flagRows.unionByName(allRow)
  }

  /** KLL's twin of [[a21SketchAccuracy]]: per group (and for the
    * merged-union rollup) the EXACT row count, plus booleans
    * asserting the sketch's p50/p95 estimates sit within 5%
    * NORMALIZED RANK error of their targets — the bound KLL proves
    * at ~1.65% for k=200, so 5% holds with overwhelming margin even
    * though compaction is randomized (the reason kll1 itself is
    * rows-only). Rank-of-estimate is computed by joining the
    * ≤(groups+1)-row estimate table back over the data as ONE
    * conditional aggregate — no sort, no window.
    */
  def kll2RankAccuracy(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_extendedprice")
        .cast("double").as("x"))
    val perFlag = li.groupBy(col("l_returnflag"))
      .agg(kll_sketch_agg_double(col("x")).as("sk"), count(lit(1)).as("n"))
      .localCheckpoint(true)
    val ranks = array(lit(0.5), lit(0.95))
    val ests = perFlag
      .select(col("l_returnflag"),
        kll_sketch_get_quantile_double(col("sk"), ranks).as("qs"))
      .unionByName(perFlag
        .agg(kll_sketch_get_quantile_double(
          kll_merge_agg_double(col("sk")), ranks).as("qs"))
        .select(lit("__ALL__").as("l_returnflag"), col("qs")))
      .select(col("l_returnflag").as("est_flag"),
        col("qs").getItem(0).as("p50"), col("qs").getItem(1).as("p95"))
    li.withColumn("g", explode(array(col("l_returnflag"), lit("__ALL__"))))
      .join(broadcast(ests), col("g") === col("est_flag"))
      .groupBy(col("g").as("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        (abs(sum(when(col("x") <= col("p50"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)) - 0.5) <= 0.05).as("p50_ok"),
        (abs(sum(when(col("x") <= col("p95"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)) - 0.95) <= 0.05).as("p95_ok"))
  }

  /** Theta-sketch set algebra (Spark's built-in DataSketches Theta
    * functions): distinct customers ordering at BOTH priority
    * extremes, and urgent-only — intersection/difference over KB-sized
    * sketch blobs instead of an exact distinct-join. HLL cannot do this
    * (its union is register-max only). Below 2^lgK distinct values
    * theta sketches are in exact mode, so at gate scale the estimates
    * are exact and the DuckDB oracle checks them as plain distinct-set
    * SQL; at estimation scale the same query degrades to
    * ~1/sqrt(2^lgK) RSE per operand.
    *
    * ORACLE VALIDITY BOUND: the exact-SQL oracle holds only while each
    * side's distinct o_custkey count stays below 2^lgK. lgK=16 here
    * gives 65,536 — ~40x the sf0.01 gate (~1.5k distinct custkeys per
    * priority) and still 4x sf0.1. If the gate SF ever exceeds ~1,
    * demote this query to rows-only rather than raising lgK further.
    */
  def th1ThetaSetAlgebra(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
    def side(p: String, as: String) =
      orders.filter(col("o_orderpriority") === p)
        .agg(theta_sketch_agg(col("o_custkey"), 16).as(as))
    side("1-URGENT", "sk_u").crossJoin(side("5-LOW", "sk_l"))
      .select(
        theta_sketch_estimate(col("sk_u")).as("n_urgent"),
        theta_sketch_estimate(col("sk_l")).as("n_low"),
        theta_sketch_estimate(theta_intersection(col("sk_u"), col("sk_l")))
          .as("n_both"),
        theta_sketch_estimate(theta_difference(col("sk_u"), col("sk_l")))
          .as("n_urgent_only"))
  }

  /** Mergeable KLL quantile-sketch rollup (Spark's built-in
    * `kll_*_double` functions) — the quantile counterpart of
    * [[a19HllRollup]]: one KLL sketch per group, then the global
    * p50/p95 from a lossless-error MERGE of the group sketches,
    * without rescanning lineitem. At 100 TB the sketch column is
    * stored per partition/day and any later quantile query (any group
    * subset) is answered in O(#sketches) — no raw-data pass.
    * Rows-only at the driver gate and excluded from the run-twice
    * determinism regression: KLL compaction flips coins, so estimates
    * carry the rank-error bound (asserted in SketchSpec) rather than
    * bitwise stability.
    */
  def kll1QuantileRollup(s: SparkSession, d: String): DataFrame = {
    // materialized once for the same double-reference reason as a19
    val perFlag = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(kll_sketch_agg_double(col("l_extendedprice").cast("double"))
        .as("sk"))
      .localCheckpoint(true)
    val ranks = array(lit(0.5), lit(0.95))
    perFlag
      .select(col("l_returnflag"),
        kll_sketch_get_quantile_double(col("sk"), ranks).as("qs"))
      .unionByName(perFlag
        .agg(kll_sketch_get_quantile_double(
          kll_merge_agg_double(col("sk")), ranks).as("qs"))
        .select(lit("__ALL__").as("l_returnflag"), col("qs")))
      .select(col("l_returnflag"),
        col("qs").getItem(0).as("p50_est"),
        col("qs").getItem(1).as("p95_est"))
  }

  /** Misra-Gries heavy hitters ([[graft.functions.FreqItems]]) run in
    * the EXACT regime: k=8 counters over a 5-value column, so no
    * decrement ever fires and the sketch returns true counts —
    * oracle-comparable. The approximate regime (k << distinct, error
    * <= n/(k+1), bounded memory AND shuffle per task) is asserted in
    * SketchSpec over the token stream.
    */
  def hh1HeavyHitters(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(graft.functions.FreqItems.freq_items(
        col("o_orderpriority"), 8).as("hh"))
      .select(col("o_orderstatus"), explode(col("hh")))
      .select(col("o_orderstatus"), col("col.item").as("o_orderpriority"),
        col("col.est").as("n"))

  // ---- window functions beyond running sums: lag / rank / ntile ----
  def w2LagRank(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d).select(
      col("o_custkey"), col("o_orderkey"),
      lag(col("o_totalprice"), 1).over(w).as("prev_price"),
      rank().over(Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))).cast("int").as("price_rank"),
      // TIMESTAMP_NTZ has no direct long cast; go via session-TZ (UTC)
      // timestamp — equivalent to DuckDB's epoch() on the naive value
      (col("o_orderdate").cast("timestamp").cast("long") -
        lag(col("o_orderdate"), 1).over(w).cast("timestamp").cast("long"))
        .as("secs_since_prev"))
  }

  // ---- exact interpolated percentiles ----
  def a15Percentiles(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_extendedprice, 0.5)").as("p50"),
        expr("percentile(l_extendedprice, 0.95)").as("p95"))

  // ---- skew-mitigated aggregation: salted two-phase over a 3-value
  //      (maximally skewed) key; results identical to direct groupBy ----
  def sk1SaltedAgg(s: SparkSession, d: String): DataFrame =
    saltedAgg(Tables.orders(s, d), Seq(col("o_orderstatus")), 16)(
      partial = Seq(
        count(lit(1)).as("__n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("__t")),
      merge = Seq(
        sum(col("__n")).as("n"),
        sum(col("__t")).cast("double").as("total")))

  /** Salted JOIN on a maximally skewed key (3-value order status):
    * facts spread over 16 salt buckets, dim replicated per bucket —
    * result identical to the direct join (the oracle).
    */
  def sk2SaltedJoin(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
    val statusDim = orders.select(col("o_orderstatus")).distinct()
      .withColumn("status_label",
        concat(lit("S_"), col("o_orderstatus")))
    saltedJoin(orders, statusDim, Seq("o_orderstatus"), 16)
      .groupBy(col("status_label"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
  }

  // ---- S9: row-count probe (dbtool.py:61-68) ----
  def s9Rowcounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Seq("customer", "orders", "lineitem")
      .map(t => (t, Tables.load(s, d, t).count()))
      .toDF("tbl", "n")
  }

  // ---- window functions: running totals / sequence numbers ----
  def wRunning(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d).select(
      col("o_custkey"), col("o_orderkey"),
      row_number().over(w).as("seq"),
      sum(col("o_totalprice").cast("decimal(18,2)"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double").as("running_spend"))
  }

  // ---- windowed moving aggregate (explicit ROWS frame) ----
  def w3MovingFrame(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-2, Window.currentRow)
    Tables.orders(s, d).select(
      col("o_custkey"), col("o_orderkey"),
      sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
        .cast("double").as("moving_spend"),
      count(lit(1)).over(w).as("n_window"))
  }

  // ---- incremental merge/upsert (the reference reloads whole
  //      datasets; Ops.upsert is the incremental path) ----
  def u1Upsert(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val delta = base.filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    graft.ops.Ops.upsert(base, delta, Seq("o_orderkey"))
  }

  // ---- SCD Type-2 versioned merge (history tracking) ----
  def u2Scd2(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_acctbal"))
      .withColumn("valid_from", expr("TIMESTAMP '2000-01-01 00:00:00'"))
      .withColumn("valid_to", lit(null).cast("timestamp"))
    val delta = Tables.customer(s, d)
      .filter(col("c_nationkey") < 5)
      .select(col("c_custkey"), (col("c_acctbal") * 1.1).as("c_acctbal"))
    graft.ops.Ops.scd2Merge(base, delta, Seq("c_custkey"),
      "valid_from", "valid_to", expr("TIMESTAMP '2020-06-01 00:00:00'"))
  }

  // ---- top-k per group (rank-limit; Spark pushes WindowGroupLimit
  //      so each partition keeps only k rows before the final sort) ----
  def o3TopkPerGroup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("rk"), col("o_orderkey"),
        col("o_totalprice"))
  }

  /** Same result as [[o3TopkPerGroup]] but via the custom partial
    * aggregate [[graft.functions.BoundedTopN]]: map-side bounded heaps
    * instead of a full per-group sort — only k rows per group per task
    * reach the shuffle (the skew-proof top-k shape). Descending price
    * is encoded by negating the leading struct key.
    */
  def o4TopkAgg(s: SparkSession, d: String): DataFrame = {
    val e = struct((-col("o_totalprice")).as("negprice"),
      col("o_orderkey"), col("o_totalprice"))
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(graft.functions.AggFunctions.bounded_topn(e, 3).as("top"))
      .select(col("o_custkey"), posexplode(col("top")))
      .select(col("o_custkey"), (col("pos") + 1).cast("int").as("rk"),
        col("col.o_orderkey"), col("col.o_totalprice"))
  }

  // ---- F7/F11-F15 string surface as one columnar query ----
  def f7Strings(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(
      col("c_custkey"),
      // F7: format templating (GRANT reconstruction, db_perms.py:33-45)
      format_string("GRANT SELECT ON TABLE %s TO %s",
        col("c_mktsegment"), col("c_name")).as("grant_sql"),
      // F11: non-word collapse (load_dataset.py:155-156)
      regexp_replace(col("c_name"), "\\W+", " ").as("collapsed"),
      // F12: case-fold + containment (load_dataset.py:159-160)
      upper(col("c_name")).contains("0").as("has_zero"),
      // F13: entity escaping (slack.py:23-35)
      regexp_replace(regexp_replace(regexp_replace(
        col("c_name"), "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
        .as("escaped"),
      // F15: slugify (k8s_build_jobs.py:37-38)
      regexp_replace(lower(col("c_mktsegment")), "[_ ]", "-").as("slug"))

  // ---- pivot (conditional-aggregation reshape; columns from values) ----
  def p11Pivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(dsum(col("l_quantity")))

  // ---- range join without an equi-key (banded interval join;
  //      graft.ops.RangeJoin — Spark's planner would nested-loop it) ----
  def j8RangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val windows = ev.filter(col("user_id") <= 20)
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("w_start"))
      .select(col("user_id").as("window_id"), col("w_start"),
        (col("w_start") + expr("INTERVAL '2' HOUR")).as("w_end"))
    graft.ops.RangeJoin.pointInInterval(
        ev.select(col("event_id"), col("ts")), "ts",
        windows, "w_start", "w_end", bucketWidthSec = 3600)
      .groupBy(col("window_id"))
      .agg(count(lit(1)).as("n_events"))
  }

  // ---- FULL OUTER join (unmatched rows survive on BOTH sides) ----
  def j9FullOuter(s: SparkSession, d: String): DataFrame = {
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_urgent"))
    val subset = Tables.customer(s, d)
      .filter(col("c_nationkey") < 10)
      .select(col("c_custkey"), col("c_name"))
    urgent.join(subset, col("o_custkey") === col("c_custkey"), "full_outer")
      .select(
        coalesce(col("o_custkey"), col("c_custkey")).as("custkey"),
        col("n_urgent"), col("c_name"))
  }

  // ---- global top-k (ORDER BY LIMIT): plans as TakeOrderedAndProject —
  //      per-partition bounded heaps, no global sort, no single-reducer
  //      shuffle (PlanSpec asserts) ----
  def o5GlobalTopk(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  // ---- unpivot / melt (inverse of p11_pivot): wide -> long ----
  def p12Unpivot(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_nationkey").cast("double").as("c_nationkey"))
      .unpivot(
        ids = Array(col("c_custkey")),
        values = Array(col("c_acctbal"), col("c_nationkey")),
        variableColumnName = "metric",
        valueColumnName = "val")

  // ---- statistical moments (mean/variance/correlation) from EXACT
  //      decimal power sums: associative partial aggregation (one
  //      shuffle), and the derived doubles are identical across engines
  //      because the float math happens once, on identical inputs, in
  //      an identical expression tree (vs built-in corr/stddev whose
  //      merge order is nondeterministic under partial aggregation) ----
  def a18Moments(s: SparkSession, d: String): DataFrame = {
    val x = col("l_extendedprice")
    val y = col("l_quantity")
    val sums = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(x.cast("decimal(18,2)")).cast("double").as("sx"),
        sum(y.cast("decimal(18,2)")).cast("double").as("sy"),
        sum((x * x).cast("decimal(27,4)")).cast("double").as("sxx"),
        sum((y * y).cast("decimal(27,4)")).cast("double").as("syy"),
        sum((x * y).cast("decimal(27,4)")).cast("double").as("sxy"))
    val nd = col("n").cast("double")
    // degenerate groups (n=1, or zero variance) -> NULL via explicit
    // nullif in BOTH engines: under ANSI mode Spark would throw
    // DIVIDE_BY_ZERO where DuckDB quietly yields NULL
    sums.select(
      col("l_returnflag"), col("n"),
      (col("sx") / nd).as("mean_price"),
      ((col("sxx") - col("sx") * col("sx") / nd) / nullif(nd - 1, lit(0.0)))
        .as("var_price"),
      ((col("sxy") - col("sx") * col("sy") / nd) /
        nullif(sqrt((col("sxx") - col("sx") * col("sx") / nd) *
          (col("syy") - col("sy") * col("sy") / nd)), lit(0.0)))
        .as("corr_price_qty"))
  }

  // ---- rank-derived window stats: ntile / percent_rank / cume_dist
  //      (all exact rationals of rank and partition size -> engine-
  //      independent doubles) ----
  def w4NtilePctRank(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d).select(
      col("o_orderkey"), col("o_orderstatus"),
      ntile(4).over(w).as("quartile"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cume"))
  }

  // ---- F10: timezone conversion as a columnar op (the reference
  //      stamps America/New_York wall times, lib/dataset_tracker.py:
  //      14-16; here: UTC event times bucketed by NY wall-clock hour) ----
  def f10TzConvert(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_format(
        from_utc_timestamp(col("ts"), "America/New_York"),
        "yyyy-MM-dd HH").as("ny_hour"))
      .agg(count(lit(1)).as("n"))

  // ---- union with schema reconciliation by NAME (missing columns ->
  //      nulls): the multi-vintage-dataset merge shape (the reference
  //      loads per-year table vintages with drifting columns) ----
  def s3UnionByName(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val v2023 = c.filter(col("c_nationkey") === 1)
      .select(col("c_custkey"), col("c_name"))
    val v2024 = c.filter(col("c_nationkey") === 2)
      .select(col("c_custkey"), col("c_acctbal"))
    v2023.unionByName(v2024, allowMissingColumns = true)
  }

  // ---- null-semantics battery: null-safe equality, nullif, nvl2 ----
  def p13NullOps(s: SparkSession, d: String): DataFrame = {
    val perCust = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(minWhere(col("o_orderpriority") === "1-URGENT", col("o_totalprice"))
        .as("min_urgent"))
    Tables.customer(s, d)
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(
        col("c_custkey"),
        (col("min_urgent") <=> lit(null)).as("no_urgent"),   // null-safe eq
        nullif(col("c_nationkey"), lit(3)).as("nat_or_null"),
        nvl2(col("min_urgent"), lit("has"), lit("none")).as("urgency"),
        coalesce(col("min_urgent"), col("c_acctbal"), lit(0.0)).as("fallback"))
  }

  // ---- exact-math scalar battery (engine-identical functions only:
  //      no exp/ln ulp roulette) ----
  def f12Math(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey"),
      abs(col("o_totalprice") - 150000.0).as("absdev"),
      ceil(col("o_totalprice") / 1000).cast("long").as("kceil"),
      floor(col("o_totalprice") / 1000).cast("long").as("kfloor"),
      pmod(col("o_orderkey"), lit(7)).as("m7"),
      signum(col("o_totalprice") - 150000.0).cast("int").as("side"),
      greatest(col("o_orderkey") % 13, col("o_orderkey") % 7).as("gmax"),
      least(col("o_orderkey") % 13, col("o_orderkey") % 7).as("gmin"))

  // ---- explicit cross join (tiny dims; the one join type the corpus
  //      lacks — bounded: 5 regions x 5 priorities) ----
  def j10Cross(s: SparkSession, d: String): DataFrame = {
    val r = Tables.region(s, d).select(col("r_name"))
    val p = Tables.orders(s, d).select(col("o_orderpriority")).distinct()
    r.crossJoin(p)
  }

  // ---- grouping_id over rollup: distinguish "null key" from
  //      "rollup total" rows ----
  def a20GroupingId(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      // grouping_id() is only resolvable INSIDE the grouping-sets agg
      .agg(grouping_id().cast("int").as("gid"), count(lit(1)).as("n"))

  // ---- streaming-surface batch dual: tumbling event-time window
  //      (SURVEY §2.10; events table) ----
  def eTumbling(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a1_group_count" -> (a1GroupCount _),
    "a2_conditional_count" -> (a2ConditionalCount _),
    "a3_filtered_recent" -> (a3FilteredRecent _),
    "a4_filtered_min" -> (a4FilteredMin _),
    "a5_sum_pricing" -> (a5SumPricing _),
    "a6_first_ordered" -> (a6FirstOrdered _),
    "a7_array_agg" -> (a7ArrayAgg _),
    "a8_two_level" -> (a8TwoLevel _),
    "a9_string_agg" -> (a9StringAgg _),
    "d1_distinct_on" -> (d1DistinctOn _),
    "j1_left_join_agg" -> (j1LeftJoinAgg _),
    "j2_using_join" -> (j2UsingJoin _),
    "j3_composite_join" -> (j3CompositeJoin _),
    "j4_dim_lookup" -> (j4DimLookup _),
    "j5_broadcast_lookup" -> (j5BroadcastLookup _),
    "j6_semi" -> (jSemi _),
    "bf1_bloom_prune" -> (bf1BloomPrune _),
    "j7_anti" -> (jAnti _),
    "p1_predicates" -> (pPredicates _),
    "p6_regex" -> (p6Regex _),
    "p10_like_prefix" -> (p10LikePrefix _),
    "f1_scalars" -> (fScalars _),
    "f6_json" -> (f6Json _),
    "f9_date_format" -> (f9DateFormat _),
    "s1_set_union" -> (setUnion _),
    "s2_intersect_except" -> (s2IntersectExcept _),
    "a12_rollup" -> (a12Rollup _),
    "a16_cube" -> (a16Cube _),
    "prof1_profile" -> (prof1Profile _),
    "a17_histogram" -> (a17Histogram _),
    "a13_distinct_counts" -> (a13DistinctCounts _),
    "a14_approx_distinct" -> (a14ApproxDistinct _),
    "a19_hll_rollup" -> (a19HllRollup _),
    "a21_sketch_accuracy" -> (a21SketchAccuracy _),
    "th1_theta_set_algebra" -> (th1ThetaSetAlgebra _),
    "kll1_quantile_rollup" -> (kll1QuantileRollup _),
    "kll2_rank_accuracy" -> (kll2RankAccuracy _),
    "a15_percentiles" -> (a15Percentiles _),
    "sk1_salted_agg" -> (sk1SaltedAgg _),
    "sk2_salted_join" -> (sk2SaltedJoin _),
    "hh1_heavy_hitters" -> (hh1HeavyHitters _),
    "s9_rowcounts" -> (s9Rowcounts _),
    "w1_running" -> (wRunning _),
    "w2_lag_rank" -> (w2LagRank _),
    "w3_moving_frame" -> (w3MovingFrame _),
    "o3_topk_per_group" -> (o3TopkPerGroup _),
    "o4_topk_agg" -> (o4TopkAgg _),
    "u1_upsert" -> (u1Upsert _),
    "u2_scd2" -> (u2Scd2 _),
    "u3_incremental_agg" -> (u3IncrementalAgg _),
    "f7_strings" -> (f7Strings _),
    "p11_pivot" -> (p11Pivot _),
    "j8_range_join" -> (j8RangeJoin _),
    "j9_full_outer" -> (j9FullOuter _),
    "o5_global_topk" -> (o5GlobalTopk _),
    "p12_unpivot" -> (p12Unpivot _),
    "a18_moments" -> (a18Moments _),
    "w4_ntile_pctrank" -> (w4NtilePctRank _),
    "f10_tz_convert" -> (f10TzConvert _),
    "s3_union_by_name" -> (s3UnionByName _),
    "p13_null_ops" -> (p13NullOps _),
    "f12_math" -> (f12Math _),
    "j10_cross" -> (j10Cross _),
    "a20_grouping_id" -> (a20GroupingId _),
    "e1_tumbling" -> (eTumbling _))

  val oracles: Map[String, String] = Map(
    "a1_group_count" ->
      "SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey",
    "a2_conditional_count" ->
      """SELECT o_custkey,
         count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS open_orders,
         count(*) AS total_orders
         FROM orders GROUP BY o_custkey""",
    "a3_filtered_recent" ->
      """SELECT o_custkey,
         count(CASE WHEN o_orderdate > TIMESTAMP '2001-01-01 00:00:00' - INTERVAL 3 YEAR THEN 1 END) AS recent_orders
         FROM orders GROUP BY o_custkey""",
    "a4_filtered_min" ->
      """SELECT o_custkey,
         min(CASE WHEN o_orderpriority = '1-URGENT' THEN o_orderdate END) AS first_urgent
         FROM orders GROUP BY o_custkey""",
    "a5_sum_pricing" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "a6_first_ordered" ->
      """SELECT o_custkey, o_orderdate AS last_orderdate,
                o_orderkey AS last_orderkey, o_totalprice AS last_totalprice
         FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
         WHERE rn = 1""",
    "a7_array_agg" ->
      """WITH c AS (SELECT o_custkey, o_orderpriority, count(*) AS n
                    FROM orders GROUP BY 1, 2)
         SELECT o_custkey,
                CAST(row_number() OVER (PARTITION BY o_custkey
                     ORDER BY n DESC, o_orderpriority DESC) - 1 AS INT) AS idx,
                n, o_orderpriority
         FROM c WHERE n > 0""",
    "a8_two_level" ->
      """WITH c AS (SELECT o_custkey, o_orderpriority, count(*) AS n
                    FROM orders GROUP BY 1, 2)
         SELECT o_custkey, CAST(SUM(n) AS BIGINT) AS total,
                MAX(n) AS max_per_priority, count(*) AS n_priorities
         FROM c GROUP BY o_custkey""",
    "a9_string_agg" ->
      """SELECT c_nationkey,
                string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments
         FROM customer GROUP BY c_nationkey""",
    "d1_distinct_on" ->
      """SELECT c_nationkey, c_custkey, c_name, c_acctbal
         FROM (SELECT *, row_number() OVER (PARTITION BY c_nationkey
               ORDER BY c_acctbal DESC, c_custkey ASC) AS rn FROM customer)
         WHERE rn = 1""",
    "j1_left_join_agg" ->
      """WITH per_cust AS (SELECT o_custkey, count(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
               FROM orders GROUP BY o_custkey)
         SELECT c_custkey, c_name,
                COALESCE(n, 0) AS n_orders,
                COALESCE(spend, 0.0) AS total_spend
         FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey""",
    "j2_using_join" ->
      """SELECT o_orderkey AS orderkey,
                count(l_linenumber) AS n_lines,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross
         FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey
         GROUP BY o_orderkey""",
    "j3_composite_join" ->
      """SELECT l_returnflag, count(*) AS n_shipped_after
         FROM lineitem JOIN orders
           ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate
         GROUP BY l_returnflag""",
    "j4_dim_lookup" ->
      """SELECT r_name, n_name, count(*) AS n_customers
         FROM customer
         LEFT JOIN nation ON c_nationkey = n_nationkey
         LEFT JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name""",
    "j5_broadcast_lookup" ->
      """SELECT p_brand, count(*) AS n_items,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand""",
    "j6_semi" ->
      """SELECT c_mktsegment, count(*) AS n_active FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         GROUP BY c_mktsegment""",
    // the bloom prefilter admits false positives only; the exact
    // semi-join that follows removes them, so the composition equals
    // the plain EXISTS — hash-checkable despite the sketch inside
    "bf1_bloom_prune" ->
      """SELECT l_returnflag, count(*) AS n_items,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_orderkey = l_orderkey
                         AND o_orderpriority = '1-URGENT'
                         AND o_totalprice > 150000)
         GROUP BY l_returnflag""",
    "j7_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')""",
    "p1_predicates" ->
      """SELECT l_orderkey, l_linenumber,
                l_extendedprice AS price, l_returnflag AS flag
         FROM lineitem
         WHERE l_extendedprice > 1000
           AND l_returnflag IN ('A', 'R')
           AND l_linestatus = 'F'
           AND l_shipdate IS NOT NULL
           AND (l_discount > 0.05 OR l_tax > 0.05)""",
    "p6_regex" ->
      """SELECT lang, count(*) AS n_matching FROM documents
         WHERE regexp_matches(text, '(?i)(spark|stream)')
         GROUP BY lang""",
    "p10_like_prefix" ->
      """SELECT o_orderstatus, count(*) AS n_urgent FROM orders
         WHERE o_orderpriority LIKE '1-%' GROUP BY o_orderstatus""",
    "f1_scalars" ->
      """SELECT o_orderkey,
                COALESCE(o_totalprice, 0.0) AS price,
                CASE WHEN o_orderstatus = 'O' THEN 'open'
                     WHEN o_orderstatus = 'F' THEN 'done'
                     ELSE 'other' END AS status_label,
                CAST(FLOOR(o_totalprice) AS INT) AS price_floor,
                CAST(o_orderkey % 100 AS SMALLINT) AS key_mod,
                (o_totalprice - o_totalprice * o_orderkey % 7) AS arith,
                CAST(2021 AS INT) AS vintage
         FROM orders""",
    "f6_json" ->
      """SELECT event_type,
                CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
                count(*) AS n
         FROM events GROUP BY event_type""",
    "f9_date_format" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS ym, count(*) AS n
         FROM orders GROUP BY 1""",
    "s1_set_union" ->
      """SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'
         UNION ALL
         SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'AUTOMOBILE'""",
    "s2_intersect_except" ->
      """WITH b AS (SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'),
              m AS (SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY')
         SELECT c_nationkey, 'both' AS op FROM (SELECT * FROM b INTERSECT SELECT * FROM m)
         UNION ALL
         SELECT c_nationkey, 'building_only' AS op FROM (SELECT * FROM b EXCEPT SELECT * FROM m)""",
    "a12_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""",
    "prof1_profile" ->
      """SELECT 'c_custkey' AS col_name,
                count(*) - count(c_custkey) AS n_nulls,
                count(DISTINCT c_custkey) AS n_distinct FROM customer
         UNION ALL SELECT 'c_name', count(*) - count(c_name),
                count(DISTINCT c_name) FROM customer
         UNION ALL SELECT 'c_nationkey', count(*) - count(c_nationkey),
                count(DISTINCT c_nationkey) FROM customer
         UNION ALL SELECT 'c_acctbal', count(*) - count(c_acctbal),
                count(DISTINCT c_acctbal) FROM customer
         UNION ALL SELECT 'c_mktsegment', count(*) - count(c_mktsegment),
                count(DISTINCT c_mktsegment) FROM customer""",
    "a16_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""",
    "a17_histogram" ->
      """SELECT CAST(FLOOR(o_totalprice / 50000.0) AS INT) AS bucket,
                count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS bucket_total
         FROM orders GROUP BY 1""",
    "a13_distinct_counts" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders,
                count(*) AS n_lines
         FROM lineitem GROUP BY l_returnflag""",
    "a15_percentiles" ->
      """SELECT l_returnflag,
                quantile_cont(l_extendedprice, 0.5) AS p50,
                quantile_cont(l_extendedprice, 0.95) AS p95
         FROM lineitem GROUP BY l_returnflag""",
    "sk1_salted_agg" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY o_orderstatus""",
    "hh1_heavy_hitters" ->
      """SELECT o_orderstatus, o_orderpriority,
                CAST(count(*) AS BIGINT) AS n
         FROM orders GROUP BY 1, 2""",
    "sk2_salted_join" ->
      """WITH dim AS (
           SELECT DISTINCT o_orderstatus,
                  'S_' || o_orderstatus AS status_label
           FROM orders)
         SELECT status_label, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders JOIN dim USING (o_orderstatus)
         GROUP BY status_label""",
    "w2_lag_rank" ->
      """SELECT o_custkey, o_orderkey,
                lag(o_totalprice, 1) OVER w AS prev_price,
                CAST(rank() OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS price_rank,
                CAST(epoch(o_orderdate) AS BIGINT)
                  - CAST(epoch(lag(o_orderdate, 1) OVER w) AS BIGINT) AS secs_since_prev
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",
    "s9_rowcounts" ->
      """SELECT 'customer' AS tbl, count(*) AS n FROM customer
         UNION ALL SELECT 'orders', count(*) FROM orders
         UNION ALL SELECT 'lineitem', count(*) FROM lineitem""",
    "w1_running" ->
      """SELECT o_custkey, o_orderkey,
                CAST(row_number() OVER w AS INT) AS seq,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_spend
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    "w3_moving_frame" ->
      """SELECT o_custkey, o_orderkey,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS moving_spend,
                count(*) OVER w AS n_window
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""",
    "u1_upsert" ->
      """WITH base AS (
           SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
         delta AS (
           SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
           FROM base WHERE o_orderkey % 97 = 0)
         SELECT * FROM delta
         UNION ALL
         SELECT b.* FROM base b
         WHERE NOT EXISTS (SELECT 1 FROM delta x
                           WHERE x.o_orderkey = b.o_orderkey)""",
    "u2_scd2" ->
      """WITH base AS (
           SELECT c_custkey, c_acctbal,
                  TIMESTAMP '2000-01-01 00:00:00' AS valid_from,
                  CAST(NULL AS TIMESTAMP) AS valid_to
           FROM customer),
         delta AS (
           SELECT c_custkey, c_acctbal * 1.1 AS c_acctbal
           FROM customer WHERE c_nationkey < 5)
         SELECT b.c_custkey, b.c_acctbal, b.valid_from,
                CASE WHEN b.valid_to IS NULL AND d.c_custkey IS NOT NULL
                     THEN TIMESTAMP '2020-06-01 00:00:00'
                     ELSE b.valid_to END AS valid_to
         FROM base b LEFT JOIN (SELECT DISTINCT c_custkey FROM delta) d
           ON b.c_custkey = d.c_custkey
         UNION ALL
         SELECT c_custkey, c_acctbal,
                TIMESTAMP '2020-06-01 00:00:00' AS valid_from,
                CAST(NULL AS TIMESTAMP) AS valid_to
         FROM delta""",
    // exact-mode theta sketches (distinct < 2^16 per operand at gate
    // scales — see th1ThetaSetAlgebra's oracle-validity bound) make the
    // set-algebra estimates exactly the distinct-set counts, so plain
    // SQL checks them
    // dd16-pattern accuracy gates: the exact column is cross-engine
    // computed; the ok booleans are literal TRUE on the oracle side —
    // a sketch drifting past its 5x-rsd / 5%-rank bound turns the
    // driver gate red
    "a21_sketch_accuracy" ->
      """SELECT l_returnflag, CAST(count(DISTINCT l_orderkey) AS BIGINT)
                AS n_orders, TRUE AS hll_ok
         FROM lineitem GROUP BY l_returnflag
         UNION ALL
         SELECT '__ALL__', CAST(count(DISTINCT l_orderkey) AS BIGINT),
                TRUE
         FROM lineitem""",
    "kll2_rank_accuracy" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
                TRUE AS p50_ok, TRUE AS p95_ok
         FROM lineitem GROUP BY l_returnflag
         UNION ALL
         SELECT '__ALL__', CAST(count(*) AS BIGINT), TRUE, TRUE
         FROM lineitem""",
    "th1_theta_set_algebra" ->
      """WITH u AS (SELECT DISTINCT o_custkey FROM orders
                    WHERE o_orderpriority = '1-URGENT'),
            l AS (SELECT DISTINCT o_custkey FROM orders
                    WHERE o_orderpriority = '5-LOW')
         SELECT (SELECT count(*) FROM u) AS n_urgent,
                (SELECT count(*) FROM l) AS n_low,
                (SELECT count(*) FROM u WHERE o_custkey IN (SELECT o_custkey FROM l)) AS n_both,
                (SELECT count(*) FROM u WHERE o_custkey NOT IN (SELECT o_custkey FROM l)) AS n_urgent_only""",
    // folding delta batches into mergeable per-key state must equal
    // the direct aggregate over all history
    "u3_incremental_agg" ->
      """SELECT o_orderpriority, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
                min(o_orderdate) AS first_date,
                max(o_orderdate) AS last_date
         FROM orders GROUP BY o_orderpriority""",
    "o3_topk_per_group" ->
      """SELECT o_custkey, CAST(rk AS INT) AS rk, o_orderkey, o_totalprice
         FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders)
         WHERE rk <= 3""",
    "o4_topk_agg" ->
      """SELECT o_custkey, CAST(rk AS INT) AS rk, o_orderkey, o_totalprice
         FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders)
         WHERE rk <= 3""",
    "f7_strings" ->
      """SELECT c_custkey,
                format('GRANT SELECT ON TABLE {} TO {}', c_mktsegment, c_name) AS grant_sql,
                regexp_replace(c_name, '\W+', ' ', 'g') AS collapsed,
                contains(upper(c_name), '0') AS has_zero,
                replace(replace(replace(c_name, '&', '&amp;'),
                  '<', '&lt;'), '>', '&gt;') AS escaped,
                regexp_replace(lower(c_mktsegment), '[_ ]', '-', 'g') AS slug
         FROM customer""",
    "p11_pivot" ->
      """SELECT l_returnflag,
                CAST(SUM(CASE WHEN l_linestatus = 'F'
                  THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "F",
                CAST(SUM(CASE WHEN l_linestatus = 'O'
                  THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "O"
         FROM lineitem GROUP BY l_returnflag""",
    "j8_range_join" ->
      """WITH w AS (
           SELECT user_id AS window_id, min(ts) AS w_start,
                  min(ts) + INTERVAL '2' HOUR AS w_end
           FROM events WHERE user_id <= 20 GROUP BY user_id)
         SELECT w.window_id, count(*) AS n_events
         FROM events e JOIN w ON e.ts >= w.w_start AND e.ts < w.w_end
         GROUP BY w.window_id""",
    "e1_tumbling" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
                count(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2""",
    "j9_full_outer" ->
      """WITH urgent AS (
           SELECT o_custkey, count(*) AS n_urgent FROM orders
           WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey),
         subset AS (
           SELECT c_custkey, c_name FROM customer WHERE c_nationkey < 10)
         SELECT COALESCE(o_custkey, c_custkey) AS custkey, n_urgent, c_name
         FROM urgent FULL OUTER JOIN subset ON o_custkey = c_custkey""",
    "o5_global_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""",
    "p12_unpivot" ->
      """SELECT c_custkey, 'c_acctbal' AS metric, c_acctbal AS val
         FROM customer
         UNION ALL
         SELECT c_custkey, 'c_nationkey', CAST(c_nationkey AS DOUBLE)
         FROM customer""",
    "a18_moments" ->
      """WITH s AS (
           SELECT l_returnflag, count(*) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(27,4))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS sxy
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, n,
                sx / CAST(n AS DOUBLE) AS mean_price,
                (sxx - sx * sx / CAST(n AS DOUBLE))
                  / NULLIF(CAST(n AS DOUBLE) - 1, 0.0) AS var_price,
                (sxy - sx * sy / CAST(n AS DOUBLE)) /
                  NULLIF(sqrt((sxx - sx * sx / CAST(n AS DOUBLE)) *
                       (syy - sy * sy / CAST(n AS DOUBLE))), 0.0) AS corr_price_qty
         FROM s""",
    "w4_ntile_pctrank" ->
      """SELECT o_orderkey, o_orderstatus,
                CAST(ntile(4) OVER w AS INT) AS quartile,
                percent_rank() OVER w AS pct_rank,
                cume_dist() OVER w AS cume
         FROM orders
         WINDOW w AS (PARTITION BY o_orderstatus
                      ORDER BY o_totalprice, o_orderkey)""",
    "f10_tz_convert" ->
      """SELECT strftime(timezone('America/New_York',
                  timezone('UTC', CAST(ts AS TIMESTAMP))),
                  '%Y-%m-%d %H') AS ny_hour,
                count(*) AS n
         FROM events GROUP BY 1""",
    "s3_union_by_name" ->
      """SELECT c_custkey, c_name, CAST(NULL AS DOUBLE) AS c_acctbal
         FROM customer WHERE c_nationkey = 1
         UNION ALL
         SELECT c_custkey, CAST(NULL AS VARCHAR), c_acctbal
         FROM customer WHERE c_nationkey = 2""",
    "p13_null_ops" ->
      """WITH per_cust AS (
           SELECT o_custkey,
                  min(CASE WHEN o_orderpriority = '1-URGENT'
                      THEN o_totalprice END) AS min_urgent
           FROM orders GROUP BY o_custkey)
         SELECT c_custkey,
                min_urgent IS NOT DISTINCT FROM NULL AS no_urgent,
                NULLIF(c_nationkey, 3) AS nat_or_null,
                CASE WHEN min_urgent IS NOT NULL THEN 'has' ELSE 'none' END
                  AS urgency,
                COALESCE(min_urgent, c_acctbal, 0.0) AS fallback
         FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey""",
    "f12_math" ->
      """SELECT o_orderkey,
                abs(o_totalprice - 150000.0) AS absdev,
                CAST(ceil(o_totalprice / 1000) AS BIGINT) AS kceil,
                CAST(floor(o_totalprice / 1000) AS BIGINT) AS kfloor,
                o_orderkey % 7 AS m7,
                CAST(sign(o_totalprice - 150000.0) AS INT) AS side,
                greatest(o_orderkey % 13, o_orderkey % 7) AS gmax,
                least(o_orderkey % 13, o_orderkey % 7) AS gmin
         FROM orders""",
    "j10_cross" ->
      """SELECT r_name, o_orderpriority
         FROM region CROSS JOIN
              (SELECT DISTINCT o_orderpriority FROM orders)""",
    "a20_grouping_id" ->
      """SELECT o_orderstatus, o_orderpriority,
                CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
                count(*) AS n
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""")
}
