package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, BoundReference, Descending, GenericInternalRow,
  JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.{
  DataType, DateType, IntegerType, LongType, TimestampNTZType, TimestampType}

/** As-of join direction. `Nearest` picks whichever of the
  * latest-at-or-before / earliest-at-after right is closer in time
  * (ties -> backward) — in the two-iterator merge it costs nothing
  * extra: the right stream's lookahead row IS the next-future
  * candidate, so no left row is buffered.
  */
sealed trait AsOfDir extends Serializable
object AsOfDir {
  case object Backward extends AsOfDir
  case object Forward extends AsOfDir
  case object Nearest extends AsOfDir
}

/** As-of join as a first-class Catalyst operator: logical node +
  * planner strategy + physical plan (the preference-(c) tier of the
  * build rules — a whole-operator semantics Spark's built-ins cannot
  * express without blow-up; see `graft.ops.AsOfJoin` for why the
  * compositional encodings are wrong).
  *
  * Why a physical operator rather than a hand-placed repartition +
  * sort feeding a `mapPartitions` scan: such a scan pays its shuffle
  * and sort UNCONDITIONALLY and hides the join from the planner behind
  * an opaque RDD boundary. Declaring the requirement instead
  * ([[AsOfJoinExec.requiredChildDistribution]] /
  * [[AsOfJoinExec.requiredChildOrdering]]) lets `EnsureRequirements`
  * plant the exchange and sort ONLY where the child's existing layout
  * doesn't already satisfy them — a bucketed 100 TB quote table
  * (bucketBy + sortBy the key) as-of joins with ZERO shuffle and zero
  * sort on that side, and a frame the user already repartitioned by
  * the key is reused as-is (AsOfExecSpec proves both on the physical
  * plan). The children stay inside whole-stage codegen up to the
  * operator boundary, rows stay Unsafe end-to-end (no Row codec
  * deserializes the fields), and AQE can still re-plan the exchanges
  * it did insert.
  *
  * Semantics (property-checked in AsOfExecSpec against a plain-Scala
  * reference written from this definition):
  *  - backward: LATEST right with rightTs <= leftTs, per key
  *  - forward:  EARLIEST right with rightTs >= leftTs, per key
  *  - nearest:  the closer of the two; ties -> backward
  *  - left outer; NULL keys and NULL timestamps never match
  *  - right rows tie-break last-in-(ts, tiebreaks) for backward,
  *    first for forward
  *
  * Algorithm: both children hash-clustered on the key and sorted by
  * (key, ts `dir`) where `dir` flips for forward — then ONE linear
  * merge per partition carrying the last-seen valid right payload
  * (for nearest, the right lookahead row doubles as the forward
  * candidate), exactly a sort-merge join's cost with an O(1)-state
  * scan instead of buffered key groups. The skew-chunked tier
  * (`AsOfJoin.asofJoinChunked`) runs this same operator keyed on
  * (key, time bucket).
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTs: Attribute,
    rightTs: Attribute,
    dir: AsOfDir,
    rightTiebreaks: Seq[Attribute],
    toleranceMicros: Option[Long] = None) extends BinaryNode {

  require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
    "asofJoin: need >= 1 key and matching key counts on both sides")

  /** Left columns, then the right payload (right minus keys/ts),
    * nullable.
    */
  override def output: Seq[Attribute] = {
    val dropped = rightKeys.map(_.exprId).toSet + rightTs.exprId
    left.output ++ right.output
      .filterNot(a => dropped.contains(a.exprId))
      .map(_.withNullability(true))
  }

  override def maxRows: Option[Long] = left.maxRows

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinNode]] as [[AsOfJoinExec]]. Injected at
  * builder time by `GraftExtensions` (injectPlannerStrategy) and at
  * runtime through `experimentalMethods.extraStrategies` — both paths
  * are idempotent by object identity.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AsOfJoinNode =>
      AsOfJoinExec(n.leftKeys, n.rightKeys, n.leftTs, n.rightTs, n.dir,
        n.rightTiebreaks, n.toleranceMicros,
        planLater(n.left), planLater(n.right)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTs: Attribute,
    rightTs: Attribute,
    dir: AsOfDir,
    rightTiebreaks: Seq[Attribute],
    toleranceMicros: Option[Long],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  private def payloadOut: Seq[Attribute] = {
    val dropped = rightKeys.map(_.exprId).toSet + rightTs.exprId
    right.output
      .filterNot(a => dropped.contains(a.exprId))
      .map(_.withNullability(true))
  }

  override def output: Seq[Attribute] = left.output ++ payloadOut

  /** The declarative heart: ask for co-clustering, let the planner
    * decide whether a shuffle is needed. `ClusteredDistribution` on
    * both children makes EnsureRequirements verify compatibility
    * (same keys, same partition count) and reuse any satisfying
    * layout — bucketed scans and prior repartitions join shuffle-free.
    */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) ::
      ClusteredDistribution(rightKeys) :: Nil

  /** Forward sweeps time DESCENDING (so "last seen right" is the
    * earliest at-or-after), with the matching default null ordering
    * (Descending => NullsLast) mirrored by the merge comparator.
    * Backward and nearest sweep ascending.
    */
  private def tsDir = dir match {
    case AsOfDir.Forward => Descending
    case _ => Ascending
  }

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, tsDir),
    (rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTs, tsDir)) ++
      rightTiebreaks.map(SortOrder(_, tsDir)))

  // left outer: every left row passes through exactly once, in place
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override lazy val metrics = Map(
    "numOutputRows" ->
      SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  /** Timeline reader for the nearest-distance and tolerance tests,
    * over the INTERNAL representations. For Timestamp/TimestampNTZ
    * (stored as Long micros) and Date (Int days, scaled here) the
    * returned value — and therefore `toleranceMicros` and the nearest
    * distance — is in MICROSECONDS. For LongType/IntegerType ts
    * columns the raw column value IS the timeline, so tolerance and
    * distance are in the column's NATIVE unit (documented on
    * `AsOfJoin.asofJoin`).
    */
  private def microsReader(dt: DataType): (InternalRow, Int) => Long =
    dt match {
      case TimestampType | TimestampNTZType => (r, i) => r.getLong(i)
      case DateType => (r, i) => r.getInt(i) * 86400L * 1000000L
      case LongType => (r, i) => r.getLong(i)
      case IntegerType => (r, i) => r.getInt(i).toLong
      case other => throw new IllegalArgumentException(
        s"asofJoin: unsupported ts type $other")
    }

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val lOut = left.output
    val rOut = right.output
    val pOut = payloadOut
    val outAttrs = output
    val lKeys = leftKeys; val rKeys = rightKeys
    val lTs = leftTs; val rTs = rightTs
    val nk = lKeys.length // pair-row layout: [keys..., ts at index nk]
    val sweep = tsDir
    val nearest = dir == AsOfDir.Nearest
    val tol: Long = toleranceMicros.getOrElse(-1L) // -1 = unbounded
    val micros: (InternalRow, Int) => Long =
      if (nearest || tol >= 0) microsReader(lTs.dataType) else null

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // (keys..., ts) pair projections — two instances, two buffers, so
      // a left pair and a right pair are simultaneously valid
      val lPairProj = UnsafeProjection.create(lKeys :+ lTs, lOut)
      val rPairProj = UnsafeProjection.create(rKeys :+ rTs, rOut)
      val payloadProj = UnsafeProjection.create(pOut, rOut)
      val resultProj = UnsafeProjection.create(outAttrs, lOut ++ pOut)
      // comparators generated from the SAME SortOrder specs as
      // requiredChildOrdering (incl. null ordering), over pair rows
      val keySorts = lKeys.zipWithIndex.map { case (a, i) =>
        SortOrder(BoundReference(i, a.dataType, nullable = true), Ascending) }
      val pairOrd = RowOrdering.create(keySorts :+
        SortOrder(BoundReference(nk, lTs.dataType, nullable = true), sweep),
        Nil)
      val keyOrd = RowOrdering.create(keySorts, Nil)
      def anyKeyNull(pair: UnsafeRow): Boolean = {
        var i = 0
        while (i < nk) { if (pair.isNullAt(i)) return true; i += 1 }
        false
      }

      val nullPayload = new GenericInternalRow(pOut.length)
      val joined = new JoinedRow
      var rHead: InternalRow = if (rIter.hasNext) rIter.next() else null
      // last-seen VALID right (non-null key and ts): its (key, ts)
      // pair and its payload, copied out of the reused row buffers
      var carryPair: UnsafeRow = null
      var carryPayload: UnsafeRow = null

      lIter.map { l =>
        val lPair = lPairProj(l)
        var rPair: UnsafeRow = if (rHead != null) rPairProj(rHead) else null
        // consume rights up to and including the left's (key, ts) in
        // the sweep order; ties consume the right first, so a right
        // taking effect at t matches a left at the same t
        while (rHead != null && pairOrd.compare(rPair, lPair) <= 0) {
          if (!anyKeyNull(rPair) && !rPair.isNullAt(nk)) {
            carryPair = rPair.copy()
            carryPayload = payloadProj(rHead).copy()
          }
          rHead = if (rIter.hasNext) rIter.next() else null
          rPair = if (rHead != null) rPairProj(rHead) else null
        }
        val lValid = !anyKeyNull(lPair) && !lPair.isNullAt(nk)
        // tolerance: a candidate only matches within |lTs - rTs| <= tol
        // (pandas merge_asof semantics; -1 disables the check)
        def inTol(pair: UnsafeRow): Boolean =
          tol < 0 || math.abs(micros(lPair, nk) - micros(pair, nk)) <= tol
        val hasCarry = lValid && carryPair != null &&
          keyOrd.compare(carryPair, lPair) == 0 && inTol(carryPair)
        numOutputRows += 1
        val payload =
          if (!nearest) { if (hasCarry) carryPayload else nullPayload }
          else {
            // nearest: the un-consumed right lookahead IS the forward
            // candidate — first right strictly after (key asc, ts asc,
            // tiebreaks asc), so multiple rights at the same future ts
            // resolve to the tiebreak-FIRST one, mirroring forward
            val hasFwd = lValid && rPair != null &&
              !anyKeyNull(rPair) && !rPair.isNullAt(nk) &&
              keyOrd.compare(rPair, lPair) == 0 && inTol(rPair)
            if (hasCarry && hasFwd) {
              val lT = micros(lPair, nk)
              // tie -> backward
              if (lT - micros(carryPair, nk) <= micros(rPair, nk) - lT)
                carryPayload
              else payloadProj(rHead)
            } else if (hasCarry) carryPayload
            else if (hasFwd) payloadProj(rHead)
            else nullPayload
          }
        resultProj(joined(l, payload))
      }
    }
  }
}
