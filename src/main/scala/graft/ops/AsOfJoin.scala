package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.AsOfDir

/** As-of joins: for every left row, attach the payload of the right
  * row with the same key that is nearest in time under a direction
  * constraint (left outer: unmatched left rows keep null payload).
  *
  *  - backward: LATEST right with `rightTs <= leftTs` (the default
  *    financial-data semantics; DuckDB `ASOF JOIN ON l.ts >= r.ts`)
  *  - forward:  EARLIEST right with `rightTs >= leftTs`
  *    (DuckDB `ASOF JOIN ON l.ts <= r.ts`)
  *  - nearest:  whichever of the two is closer; ties -> backward
  *
  * Spark has no built-in as-of join, and the compositional encodings
  * are wrong at scale: an inequality theta-join explodes to
  * O(left x priorRights) before its max_by; a window over the union
  * can't carry *columns* across rows of different tables without
  * last(ignoreNulls) per payload column (one window function per
  * column, re-sorted). The right physical shape is the classic
  * streaming merge: both sides clustered on the key and sorted by
  * (key, ts), then ONE linear pass carrying the last-seen right
  * payload. It runs as a custom Catalyst physical operator
  * (`graft.plans.AsOfJoinExec`) that DECLARES its distribution and
  * ordering, so the planner plants exchanges only where the child
  * layout doesn't already satisfy them — bucketed or pre-partitioned
  * inputs join with zero added shuffle, and rows stay Unsafe
  * end-to-end.
  *
  * Entry points: [[asofJoin]] (the plain operator, one or more key
  * columns), [[asofJoinChunked]] (the same operator behind a
  * (key, time-bucket) spread for hot keys) and [[asofJoinAuto]]
  * (picks between the two from [[maxKeyTimelineRows]]).
  *
  * Scale: cost is shuffle(left+right) + sort, identical to a
  * sort-merge join. In the plain tier a skewed key concentrates in one
  * partition (the stateful carry needs each key's full timeline, and
  * AQE's skew splitting does not apply to this operator) — for hot
  * keys use [[asofJoinChunked]], which range-chunks each key's
  * timeline with boundary carry so one key spreads over numBuckets
  * tasks.
  *
  * Ties: right rows sort BEFORE left rows at equal (key, ts), so a
  * right row taking effect at t matches a left row at the same t.
  * Multiple right rows at the same (key, ts): the last in (key, ts,
  * tiebreak) order wins for backward, the first for forward — pass
  * `rightTiebreak` (or pre-dedup per (key, ts)) to pin it.
  *
  * NULL keys never match (SQL equi-join semantics, as DuckDB ASOF):
  * null-keyed left rows get a null payload, null-keyed right rows are
  * dropped. NULL timestamps never match either.
  *
  * Output: the left columns, then the right columns minus the keys
  * and the right ts, all payload columns nullable.
  */
object AsOfJoin {

  /** As-of join through the custom operator
    * ([[graft.plans.AsOfJoinNode]] → `AsOfJoinExec`): equality on EVERY
    * key column plus the one time inequality — DuckDB's
    * `ASOF JOIN ... ON a = a AND b = b AND l.ts >= r.ts` shape. Key
    * columns must carry the same names and types on both sides.
    *
    * `toleranceMicros`: a candidate only matches within
    * `|leftTs - rightTs| <= tolerance`. The unit is MICROSECONDS for
    * Timestamp/TimestampNTZ/Date ts columns; for a LONG or INT ts column
    * the comparison runs in the column's NATIVE unit (the raw value is
    * the timeline), so pass the tolerance in that same unit — e.g. a ts
    * column holding epoch-SECONDS takes a tolerance in seconds.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTsCol: String,
      rightTsCol: String,
      dir: AsOfDir,
      rightTiebreak: Seq[String] = Nil,
      toleranceMicros: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    require(keyCols.nonEmpty, "asofJoin: need at least one key column")
    val spark = left.sparkSession
    ColumnBridge.addPlannerStrategy(spark, graft.plans.AsOfJoinStrategy)
    val lPlan = ColumnBridge.analyzed(left)
    // self-join safety: re-aliasing every right column mints fresh
    // exprIds, so left/right never share attributes in the node
    val rPlan = ColumnBridge.analyzed(
      right.select(right.columns.map(c => col(c).as(c)): _*))
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        name: String, side: String) =
      p.output.find(_.name == name).getOrElse(throw new IllegalArgumentException(
        s"asofJoin: no column '$name' on the $side side " +
          s"(have: ${p.output.map(_.name).mkString(", ")})"))
    val lks = keyCols.map(attr(lPlan, _, "left"))
    val rks = keyCols.map(attr(rPlan, _, "right"))
    val (lt, rt) =
      (attr(lPlan, leftTsCol, "left"), attr(rPlan, rightTsCol, "right"))
    // the merge comparator reads (keys, ts) pairs from BOTH sides with
    // one ordering — the types must agree exactly (cast upstream)
    lks.zip(rks).foreach { case (lk, rk) =>
      require(lk.dataType == rk.dataType,
        s"asofJoin: key type mismatch ${lk.dataType} vs ${rk.dataType}")
    }
    require(lt.dataType == rt.dataType,
      s"asofJoin: ts type mismatch ${lt.dataType} vs ${rt.dataType}")
    require(toleranceMicros.forall(_ >= 0),
      "asofJoin: tolerance must be >= 0")
    ColumnBridge.ofRows(spark, graft.plans.AsOfJoinNode(
      lPlan, rPlan, lks, rks, lt, rt, dir,
      rightTiebreak.map(attr(rPlan, _, "right")), toleranceMicros))
  }

  /** Default hot-key dispatch threshold for [[asofJoinAuto]]: the
    * chunked spread only pays for itself once a SINGLE key's timeline
    * outgrows what one task can sort+merge comfortably. The measured
    * break-even (PROBE_scale asof_skew leg: plain exec 2.21 s vs
    * chunked exec 3.19 s at 1M rows with a 0.9M-row hot key,
    * local[32]) shows plain still winning at ~1M rows on one key —
    * the chunked tier's constant costs (bounds pass, winner
    * injection, pinned repartition) dominate below the
    * single-task-straggler regime. 4M narrow rows is comfortably
    * inside a task's in-memory sort on default executor sizing and
    * above every regime where plain measured faster; clusters with
    * smaller tasks tune it down via the parameter.
    */
  val DefaultHotKeyRowThreshold: Long = 4L * 1000 * 1000

  /** Max rows any single key contributes across BOTH sides — the
    * straggler statistic [[asofJoinAuto]] dispatches on. One extra
    * scan of each side, but the aggregate is partial-aggregable
    * (map-side combine), so the exchange carries at most
    * distinct-keys rows per partition, never the data.
    *
    * NULL keys COUNT as a group: they never match, but the plain
    * exec's hash distribution still funnels every null-key row into
    * ONE partition whose task must sort them — exactly the straggler
    * regime — while the chunked tier spreads them over (key, bucket)
    * cells. A null-key-heavy input must therefore dispatch on its
    * null population too.
    */
  def maxKeyTimelineRows(
      left: DataFrame, right: DataFrame, keyCol: String): Long = {
    // the union below would coerce (or refuse) mismatched key types
    // with an opaque union-schema error BEFORE the join itself could
    // raise its clearer one — validate here with the join's message
    val (lt, rt) = (left.schema(keyCol).dataType, right.schema(keyCol).dataType)
    require(lt == rt,
      s"asofJoinAuto: key type mismatch $lt vs $rt (cast upstream)")
    left.select(col(keyCol).as("__k"))
      .unionAll(right.select(col(keyCol).as("__k")))
      .groupBy(col("__k")).agg(count(lit(1)).as("__c"))
      .agg(max(col("__c"))).head() match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
  }

  /** AUTO-DISPATCHING as-of — the dd11 pattern applied to the
    * plain-vs-chunked choice: one key-cardinality probe
    * ([[maxKeyTimelineRows]]) picks the plain operator ([[asofJoin]])
    * when no key's timeline exceeds `hotKeyRowThreshold`, and the
    * skew-chunked composition ([[asofJoinChunked]]) when one does — so
    * a 100×-scale user gets the measured-best tier without reading the
    * break-even tables. Both tiers are row-identical (AsOfExecSpec), so
    * the dispatch NEVER changes the result, only the physical spread;
    * AsOfExecSpec proves the plan flip on both regimes (uniform keys →
    * single-key exec node in the plan; adversarial hot key → the
    * (key, bucket) two-key exec).
    *
    * Probe cost: one full scan + partial-agg exchange of BOTH inputs
    * per call (the exchange carries distinct-keys rows, never the
    * data, but the scans are real).
    */
  def asofJoinAuto(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTsCol: String,
      rightTsCol: String,
      dir: AsOfDir = AsOfDir.Backward,
      rightTiebreak: Seq[String] = Nil,
      hotKeyRowThreshold: Long = DefaultHotKeyRowThreshold,
      numBuckets: Int = 64,
      toleranceMicros: Option[Long] = None): DataFrame = {
    require(hotKeyRowThreshold > 0,
      s"hotKeyRowThreshold must be > 0, got $hotKeyRowThreshold")
    if (maxKeyTimelineRows(left, right, keyCol) > hotKeyRowThreshold)
      asofJoinChunked(left, right, keyCol, leftTsCol, rightTsCol,
        dir, rightTiebreak, numBuckets, toleranceMicros)
    else
      asofJoin(left, right, Seq(keyCol), leftTsCol, rightTsCol, dir,
        rightTiebreak, toleranceMicros)
  }

  /** SKEW-PROOF as-of: each key's timeline is cut into `numBuckets`
    * equal time ranges, the per-(key, bucket) winning right rows are
    * injected across bucket boundaries, and the join itself runs as
    * [[asofJoin]] keyed on (key, bucket) — so a hot key's buckets hash
    * to many tasks while the planner still owns the exchanges.
    *
    * Correct carry across the cut: for every (key, bucket) the WINNING
    * right row (max (ts, tiebreak) for backward, min for forward) is
    * injected into each LATER (backward) or EARLIER (forward) bucket
    * that has left rows. Injecting only winners is sufficient: a
    * non-winner from an earlier bucket is dominated by its bucket's
    * winner for every left row of any later bucket. `nearest` injects
    * winners in BOTH directions (the forward candidate must be visible
    * inside the bucket).
    *
    * Cost: one extra pass for the (min, max) ts bounds, a partial-agg
    * per-bucket winner reduction, and <= occupiedBuckets^2 injected
    * rows per key — O(numBuckets^2) tiny rows against a hot key's
    * millions. Row-identical to [[asofJoin]] (AsOfExecSpec proves it on
    * 90%-one-key skew).
    */
  def asofJoinChunked(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTsCol: String,
      rightTsCol: String,
      dir: AsOfDir,
      rightTiebreak: Seq[String] = Nil,
      numBuckets: Int = 64,
      toleranceMicros: Option[Long] = None): DataFrame = {
    // tolerance composes with the spread for free: the chunked layout
    // presents each left row the SAME candidate rights as the plain
    // operator (boundary-winner injection preserves per-key candidate
    // structure — the row-identity proof), and the tolerance test
    // reads only (leftTs, candidateTs), so nulling happens identically
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
    // every internal working column this composition mints: '__b' (the
    // time bucket on both sides), '__tgt_b' (the occupied-bucket carry
    // target), '__w' (the per-bucket winner struct) — an input column
    // with any of these names would collide in carriedRows' rename
    for (c <- Seq("__b", "__tgt_b", "__w"))
      require(!right.columns.contains(c) && !left.columns.contains(c),
        s"asofJoinChunked: column name '$c' is reserved")
    def plain() = asofJoin(left, right, Seq(keyCol), leftTsCol, rightTsCol,
      dir, rightTiebreak, toleranceMicros)
    // numeric timeline for range bucketing (seconds for temporal types)
    def tsD(c: org.apache.spark.sql.Column) =
      left.schema(leftTsCol).dataType match {
        case org.apache.spark.sql.types.DateType =>
          c.cast("timestamp").cast("double")
        case _ => c.cast("double")
      }
    val mm = left.select(tsD(col(leftTsCol)).as("t"))
      .unionAll(right.select(tsD(col(rightTsCol)).as("t")))
      .agg(min(col("t")), max(col("t"))).head()
    if (mm.isNullAt(0) || mm.getDouble(0) == mm.getDouble(1)) return plain()
    val lo = mm.getDouble(0)
    val width = (mm.getDouble(1) - lo) / numBuckets
    def bucket(c: org.apache.spark.sql.Column) = coalesce(
      least(lit(numBuckets - 1), greatest(lit(0),
        floor((tsD(c) - lit(lo)) / lit(width)).cast("int"))),
      lit(0)) // null ts: bucket 0 (never matches; the exec nulls it)

    val lB = left.withColumn("__b", bucket(col(leftTsCol)))
    val rB = right.withColumn("__b", bucket(col(rightTsCol)))
    val validRights = rB.filter(col(keyCol).isNotNull &&
      col(rightTsCol).isNotNull)
    val occupied = lB.filter(col(keyCol).isNotNull &&
        col(leftTsCol).isNotNull)
      .select(col(keyCol), col("__b").as("__tgt_b")).distinct()
    val ordStruct = struct(
      (col(rightTsCol) +: rightTiebreak.map(col)): _*)
    val rowStruct = struct(rB.columns.map(col): _*)
    // per-(key, bucket) winner rows injected across bucket boundaries:
    // max (ts, tiebreaks) into LATER occupied buckets (backward carry),
    // min into EARLIER ones (forward carry)
    def carriedRows(takeMin: Boolean): DataFrame = {
      val winners = validRights
        .groupBy(col(keyCol), col("__b"))
        .agg((if (takeMin) min_by(rowStruct, ordStruct)
              else max_by(rowStruct, ordStruct)).as("__w"))
        .select(col("__w.*"))
      winners.join(occupied, Seq(keyCol))
        .filter(if (takeMin) col("__tgt_b") < col("__b")
                else col("__tgt_b") > col("__b"))
        .drop("__b").withColumnRenamed("__tgt_b", "__b")
        .select(rB.columns.map(col): _*)
    }
    val carried = dir match {
      case AsOfDir.Backward => Seq(carriedRows(takeMin = false))
      case AsOfDir.Forward => Seq(carriedRows(takeMin = true))
      case AsOfDir.Nearest =>
        Seq(carriedRows(takeMin = false), carriedRows(takeMin = true))
    }
    val r2 = carried.foldLeft(rB)(_.unionByName(_))
    // pinned-count repartition on (key, bucket): AQE would coalesce a
    // planner-inserted (ENSURE_REQUIREMENTS) exchange of small buckets
    // back together, undoing exactly the spread this operator exists to
    // create — a REPARTITION_BY_NUM layout is respected, and the exec's
    // declared distribution REUSES it (zero added exchanges; the same
    // reuse path AsOfExecSpec proves for pre-partitioned inputs)
    val nPart = left.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    asofJoin(
      lB.repartition(nPart, col(keyCol), col("__b")),
      r2.repartition(nPart, col(keyCol), col("__b")),
      Seq(keyCol, "__b"), leftTsCol, rightTsCol, dir, rightTiebreak,
      toleranceMicros)
      .drop("__b")
  }
}
