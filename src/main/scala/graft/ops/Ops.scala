package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge

/** The core operator library: the reference's Postgres-isms re-expressed
  * as Catalyst-built-in compositions (SURVEY.md §2.4 A2-A7, §2.5 D1).
  *
  * Everything here stays inside whole-stage codegen (no UDFs) and keeps
  * partial (map-side) aggregation where the semantics allow, so each
  * combinator scales to arbitrarily large inputs with exactly one shuffle
  * on the grouping key.
  */
object Ops {

  /** A temp-column name guaranteed absent from `taken` (user data may
    * legitimately contain a column named `__salt`; overwriting it would
    * corrupt the input and dropping it afterwards would lose it).
    */
  private def freshCol(base: String, taken: Iterable[String]): String = {
    val used = taken.toSet
    Iterator.from(0)
      .map(i => if (i == 0) base else s"$base$i")
      .find(!used(_)).get
  }

  /** Scale-adaptive fan-out for EXPENSIVE per-row compute that follows
    * a narrow scan (guide §2: "make partitioning scale-adaptive —
    * derive from input size — rather than a constant").
    *
    * Problem shape: a parquet scan's parallelism is bounded by its
    * row-group count, and Spark chains per-row projections (n-gram
    * set builds, per-token hashing, codec encode/decode) into the scan
    * stage — so over a few-row-group input the whole expensive stage
    * runs on ONE core regardless of cluster size. At warehouse scale
    * inputs have thousands of row groups and this is a NO-OP (the
    * partition-count guard); it only fires where the scan is narrower
    * than the session's parallelism, where the payload it shuffles is
    * small by the same token.
    *
    * Hash-partitioned on `key` (deterministic under task retry —
    * guide §2.5's round-robin caveat); results are unchanged because
    * every caller's downstream semantics are partitioning-independent
    * (oracle-checked queries by construction).
    *
    * Reads through a catalog or temp view (`View` nodes) are not on the
    * narrow whitelist and come back unchanged.
    */
  def fanOutForCompute(df: DataFrame, key: Column): DataFrame = {
    // SCAN-SHAPED plans only: materializing `.rdd` under AQE runs every
    // upstream query stage at CONSTRUCTION time (AdaptiveSparkPlanExec
    // finalizes the plan by executing its shuffle stages), so probing
    // the partition count of a join/aggregate subtree would execute it
    // twice per query. The guard is a WHITELIST of provably-narrow
    // nodes (a blacklist missed Deduplicate/SetOperation/GlobalLimit —
    // any future shuffle-implying node would re-open the
    // double-execution hole): a plan built only of these has no AQE
    // stages, its `.rdd` is pure planning, and it is exactly the
    // narrow-scan shape this helper exists for. Anything else is
    // treated as wide and returned unchanged — already
    // shuffle-partitions wide, or its author chose its layout. A
    // whitelisted node can still carry a subquery expression (a Filter
    // on a scalar subquery over an aggregate), and `exists` does not
    // descend into it, so any node with one counts as wide too.
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    import org.apache.spark.sql.catalyst.plans.{logical => lp}
    import org.apache.spark.sql.{execution => ex}
    val narrow = !df.queryExecution.analyzed.exists { // no non-whitelisted node
      case n if n.expressions.exists(SubqueryExpression.hasSubquery) => true
      case _: lp.Project | _: lp.Filter | _: lp.Generate | _: lp.Union |
           _: lp.SubqueryAlias | _: lp.LocalRelation | _: lp.Range |
           _: lp.OneRowRelation => false
      case _: ex.LogicalRDD => false
      case _: ex.datasources.LogicalRelation => false
      case _: ex.datasources.v2.DataSourceV2Relation => false
      case _ => true
    }
    if (!narrow) df
    else {
      val sess = df.sparkSession
      // width = max(defaultParallelism, shuffle.partitions): on a
      // dynamic-allocation cluster at job start defaultParallelism can
      // be tiny (executors not yet registered), which would silently
      // under-partition the compute stage this helper exists to
      // spread; shuffle.partitions is the session's declared reduce
      // width. Locally the two are equal (the bench sets both to
      // $SPARK_GRAFT_CPUS), so bench numbers are unaffected.
      val target = math.max(sess.sparkContext.defaultParallelism,
        sess.sessionState.conf.numShufflePartitions)
      if (df.rdd.getNumPartitions >= target) df
      else df.repartition(target, key)
    }
  }

  /** A fixed-round iterative loop with per-round lineage truncation:
    * `init` and every round's `step` result are eagerly
    * localCheckpoint'ed, and the state each one replaces is freed as
    * soon as it exists. Without the truncation a state that the next
    * round reads twice re-expands its whole prefix 2^k times, and even
    * a cached plan's string form nests every prior round (the PageRank
    * lesson). Returns the last round's checkpoint, which the caller's
    * result reads; a multi-executor deployment would checkpoint to a
    * reliable dir instead, here and in [[advance]].
    */
  def iterate(init: DataFrame, rounds: Int)(step: DataFrame => DataFrame): DataFrame =
    (1 to rounds).foldLeft(init.localCheckpoint(true))((s, _) => advance(s, step(s)))

  /** One truncate-and-free step: eagerly localCheckpoint `next` (so its
    * round's work is done, and measured, inside its own round), then
    * [[release]] `prev`, whose blocks `next` no longer reads.
    */
  def advance(prev: DataFrame, next: DataFrame): DataFrame = {
    val cut = next.localCheckpoint(true)
    release(prev)
    cut
  }

  /** Free the blocks of a superseded round: `df` must be a
    * localCheckpoint result, a plan that is one LogicalRDD leaf.
    * Without this, cleanup waits on ContextCleaner GC, so peak storage
    * would grow with the round count.
    */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: LogicalRDD => ColumnBridge.unpersistRDD(lr.rdd)
  }

  /** `count(*) FILTER (WHERE cond)` / `count(CASE WHEN cond THEN 1 END)` —
    * reference `wow_original_create_bldgs_table.sql:23`,
    * `wow_2021_create_bldgs_table.sql:58,92`.
    */
  def countWhere(cond: Column): Column = count(when(cond, 1))

  /** `min(x) FILTER (WHERE cond)` — reference `wow_2021…sql:116-117`. */
  def minWhere(cond: Column, c: Column): Column = min(when(cond, c))

  /** `sum(x) FILTER (WHERE cond)`. */
  def sumWhere(cond: Column, c: Column): Column = sum(when(cond, c))

  /** Exact-decimal sum of a double column, returned as double.
    * Summing doubles is order-dependent; at cluster scale the partial-agg
    * combine order is nondeterministic, so a raw double sum is not
    * reproducible run-to-run (and not oracle-comparable). Casting each
    * value to DECIMAL(18,2) makes the sum exact and associative.
    */
  def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** `string_agg(x, sep ORDER BY x)` — reference `lib/db_perms.py:36`.
    * Ordering made explicit (sort_array) for determinism under
    * distributed collect_list.
    */
  def stringAggOrdered(c: Column, sep: String): Column =
    concat_ws(sep, sort_array(collect_list(c)))

  /** Ordered + filtered array-of-struct aggregation:
    * `json_agg(json_build_object(…) ORDER BY ord DESC) FILTER (WHERE cond)`
    * — reference `wow_2021_create_bldgs_table.sql:43-46`.
    *
    * `payload` must be a struct whose FIRST field(s) are the ordering
    * key(s); the array is sorted by struct comparison (lexicographic on
    * fields), descending. Rows failing `cond` are dropped before
    * aggregation (collect_list skips nulls produced by `when`).
    */
  def arrayAggOrderedFilteredDesc(cond: Column, payload: Column): Column =
    reverse(sort_array(collect_list(when(cond, payload))))

  /** Two-phase salted aggregation for skewed grouping keys: phase 1
    * aggregates on (keys, salt) — spreading each hot key over
    * `saltBuckets` reducers — phase 2 merges the partials per key.
    * Results are identical to the direct groupBy (count/sum/min/max are
    * associative); the win is that no single reducer owns a hot key.
    * AQE's skew handling covers joins; aggregation skew still needs
    * this when one key dominates (e.g. 3-value status columns over
    * billions of rows).
    */
  def saltedAgg(
      df: DataFrame,
      keys: Seq[Column],
      saltBuckets: Int)(
      partial: Seq[Column],
      merge: Seq[Column]): DataFrame = {
    val saltCol = freshCol("__salt", df.columns)
    val salted = df.withColumn(saltCol,
      pmod(monotonically_increasing_id(), lit(saltBuckets.toLong)))
    salted.groupBy(keys :+ col(saltCol): _*)
      .agg(partial.head, partial.tail: _*)
      .groupBy(keys: _*)
      .agg(merge.head, merge.tail: _*)
  }

  /** Salted equi-join for SKEWED join keys — the join-side complement
    * of [[saltedAgg]]: every fact row gets a salt bucket, the (small)
    * dimension side is replicated once per bucket, and the join runs
    * on (keys, salt) so a hot key's rows spread over `saltBuckets`
    * reducers instead of pinning one. Result set is identical to the
    * unsalted join for inner/left semantics (each fact row matches
    * exactly the one replica carrying its salt).
    *
    * AQE's skew-join split covers sort-merge joins after the fact;
    * explicit salting is the deterministic-plan alternative when the
    * skew is known up front (3-value status keys over billions of
    * rows) or when AQE is unavailable (streaming micro-batches).
    * The salt derives from a hash of the fact row's physical position
    * (`monotonically_increasing_id`) — any assignment is correct;
    * spreading quality only affects balance, never the result.
    */
  def saltedJoin(
      facts: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      saltBuckets: Int,
      joinType: String = "inner"): DataFrame = {
    // right/full/outer would duplicate unmatched dim rows once per salt
    // replica — reject rather than return a plausible wrong answer
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti")
        .contains(joinType.toLowerCase.replace("_", "")),
      s"saltedJoin supports inner/left joins only, got $joinType " +
        "(unmatched dim rows would appear once per salt bucket)")
    val saltCol = freshCol("__salt", facts.columns ++ dim.columns)
    val salted = facts.withColumn(saltCol,
      pmod(xxhash64(monotonically_increasing_id()), lit(saltBuckets.toLong)))
    val replicated = dim.withColumn(saltCol,
      explode(array((0 until saltBuckets).map(i => lit(i.toLong)): _*)))
    salted.join(replicated, keys :+ saltCol, joinType).drop(saltCol)
  }

  /** Merge/upsert: `delta` rows replace same-key `base` rows; delta
    * keys absent from base are inserts. The reference has no
    * incremental path (it reloads whole datasets on change,
    * load_dataset.py:352-370); this is the Spark-native upgrade:
    * ONE left-anti hash join on the keys + union. For the common
    * incremental-load case (small delta) AQE broadcasts the delta key
    * set, so the base is a single streamed pass — no shuffle of the
    * 100 TB side; with the base bucketed on the key even the shuffle
    * fallback is exchange-free on that side.
    */
  def upsert(base: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame =
    delta.unionByName(
      base.join(delta.select(keys.map(col): _*).distinct(), keys, "left_anti"))

  /** SCD Type-2 merge: versioned history with `[validFrom, validTo)`
    * windows (`validTo` null = current). Every delta row supersedes its
    * key's current version as of `effectiveTs`: the open row is closed
    * (validTo := effectiveTs) and a new open version is appended.
    * Closed history rows pass through untouched.
    *
    * Plan shape: one left join of base against the delta KEY SET
    * (broadcast for the typical small increment) + union with the
    * delta — same never-shuffle-the-base property as [[upsert]].
    */
  def scd2Merge(
      base: DataFrame,
      delta: DataFrame,
      keys: Seq[String],
      validFrom: String,
      validTo: String,
      effectiveTs: Column): DataFrame = {
    val hit = delta.select(keys.map(col): _*).distinct()
      .withColumn("__hit", lit(1))
    val closed = base.join(hit, keys, "left")
      .withColumn(validTo,
        when(col(validTo).isNull && col("__hit") === 1, effectiveTs)
          .otherwise(col(validTo)))
      .drop("__hit")
    val opened = delta
      .withColumn(validFrom, effectiveTs)
      .withColumn(validTo, lit(null).cast(base.schema(validTo).dataType))
    closed.unionByName(opened)
  }

  implicit class RichDataFrame(private val df: DataFrame) extends AnyVal {

    /** Postgres `SELECT DISTINCT ON (keys) … ORDER BY keys, tiebreak` —
      * reference `wow_original…sql:7`, `wow_2020…sql:30`, `wow_2021…sql:67`
      * (SURVEY.md §2.5 D1). Keeps exactly one row per key, chosen by
      * `tiebreak` ordering (the reference leaves ties unspecified; we
      * require an explicit deterministic ordering).
      *
      * Physical shape: one hash-partition shuffle on `keys` + an in-partition
      * sort (window). No global sort; scales linearly with data size. For
      * severely skewed keys prefer [[firstOrderedBy]] (partial-agg form).
      */
    def distinctOn(keys: Seq[Column], tiebreak: Seq[Column]): DataFrame = {
      val w = Window.partitionBy(keys: _*).orderBy(tiebreak: _*)
      val rn = freshCol("__rn", df.columns)
      df.withColumn(rn, row_number().over(w))
        .filter(col(rn) === 1)
        .drop(rn)
    }

    /** Top-1-per-group via ordered `first()` — the reference's custom
      * Postgres aggregate `first(x)` over a pre-sorted CTE
      * (`wow_2020…sql:8-28`, `wow_2021…sql:6-26`; SURVEY.md §2.4 A6).
      *
      * Implemented as `max_by(struct(payload...), struct(orderKeys...))`:
      * a declarative aggregate with partial (map-side) aggregation —
      * strictly better at scale than the window/row_number form because
      * each map task reduces its partition to one row per key before the
      * shuffle (no sort, no full-group materialization, skew-tolerant).
      *
      * `orderKeys` are ranked ASCENDING lexicographically and the MAX is
      * kept; for "latest by date" pass the date itself; for descending
      * semantics on a component, negate it or use [[lastOrderedBy]].
      */
    def firstOrderedBy(
        groupKeys: Seq[Column],
        orderKeys: Seq[Column],
        payload: Seq[(String, Column)]): DataFrame = {
      val pay = struct(payload.map { case (n, c) => c.as(n) }: _*)
      val ord = struct(orderKeys: _*)
      val top = freshCol("__top", df.columns ++ payload.map(_._1))
      df.groupBy(groupKeys: _*)
        .agg(max_by(pay, ord).as(top))
        .select(groupKeys.map(identity) :+ col(s"$top.*"): _*)
    }

    /** min_by twin of [[firstOrderedBy]] (keeps the row with the smallest
      * order key — "earliest per group").
      */
    def lastOrderedBy(
        groupKeys: Seq[Column],
        orderKeys: Seq[Column],
        payload: Seq[(String, Column)]): DataFrame = {
      val pay = struct(payload.map { case (n, c) => c.as(n) }: _*)
      val ord = struct(orderKeys: _*)
      val top = freshCol("__top", df.columns ++ payload.map(_._1))
      df.groupBy(groupKeys: _*)
        .agg(min_by(pay, ord).as(top))
        .select(groupKeys.map(identity) :+ col(s"$top.*"): _*)
    }
  }
}
