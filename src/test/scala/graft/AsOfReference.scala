package graft

import org.apache.spark.sql.DataFrame

import graft.plans.AsOfDir

/** Plain-Scala as-of join over collected rows, written from the
  * definition rather than from a merge, so a mistake in the operator's
  * carry-merge cannot hide in the reference too:
  *  - for each left row, take the right rows whose key is equal and
  *    non-null and whose timestamp lies on the requested side;
  *  - backward picks the last of them by (ts, tiebreak), forward the
  *    first;
  *  - nearest picks the closer of the two, ties going backward;
  *  - the tolerance filters candidates by distance.
  * NULL left keys or timestamps never match. Rows come back in the
  * operator's layout: the left columns, then the right columns minus
  * the keys and the right ts. O(left x rights per key), so meant for
  * the specs' small inputs.
  */
object AsOfReference {

  private final case class Cand(ts: Long, tiebreak: Seq[Any], payload: Seq[Any])

  /** Ascending, nulls first — Spark's default for an ascending sort. */
  private val anyOrd: Ordering[Any] = (a: Any, b: Any) =>
    if (a == null) { if (b == null) 0 else -1 }
    else if (b == null) 1
    else a.asInstanceOf[Comparable[Any]].compareTo(b)

  /** By (ts, tiebreak...), the tiebreak columns compared in order. */
  private val candOrd: Ordering[Cand] = (a: Cand, b: Cand) =>
    (java.lang.Long.compare(a.ts, b.ts) +:
      a.tiebreak.lazyZip(b.tiebreak).map(anyOrd.compare))
      .find(_ != 0).getOrElse(0)

  /** The timeline in microseconds (raw value for integral columns). */
  private def micros(v: Any): Long = v match {
    case t: java.sql.Timestamp =>
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000
    case d: java.sql.Date => d.toLocalDate.toEpochDay * 86400L * 1000000L
    case d: java.time.LocalDate => d.toEpochDay * 86400L * 1000000L
    case l: java.lang.Long => l.longValue
    case i: java.lang.Integer => i.longValue
    case other => throw new IllegalArgumentException(s"ts type ${other.getClass}")
  }

  def join(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTsCol: String,
      rightTsCol: String,
      dir: AsOfDir,
      rightTiebreak: Seq[String] = Nil,
      toleranceMicros: Option[Long] = None): Seq[Seq[Any]] = {
    val payloadCols = right.columns.toSeq
      .filterNot(c => keyCols.contains(c) || c == rightTsCol)
    val byKey: Map[Seq[Any], Seq[Cand]] = right.collect().toSeq
      .map(r => (keyCols.map(r.getAs[Any]), r.getAs[Any](rightTsCol), r))
      .filter { case (k, t, _) => !k.contains(null) && t != null }
      .groupBy(_._1)
      .map { case (k, rs) => k -> rs.map { case (_, t, r) =>
        Cand(micros(t), rightTiebreak.map(r.getAs[Any]),
          payloadCols.map(r.getAs[Any]))
      }.sorted(candOrd) }
    val noMatch = Seq.fill[Any](payloadCols.length)(null)
    left.collect().toSeq.map { l =>
      val key = keyCols.map(l.getAs[Any])
      val lts = l.getAs[Any](leftTsCol)
      val hit =
        if (key.contains(null) || lts == null) None
        else {
          val t = micros(lts)
          val cands = byKey.getOrElse(key, Nil)
            .filter(c => toleranceMicros.forall(math.abs(t - c.ts) <= _))
          val back = cands.filter(_.ts <= t).lastOption
          val fwd = cands.find(_.ts >= t)
          dir match {
            case AsOfDir.Backward => back
            case AsOfDir.Forward => fwd
            case AsOfDir.Nearest => (back, fwd) match {
              case (Some(b), Some(f)) => if (t - b.ts <= f.ts - t) back else fwd
              case _ => back.orElse(fwd)
            }
          }
        }
      l.toSeq ++ hit.map(_.payload).getOrElse(noMatch)
    }
  }
}
