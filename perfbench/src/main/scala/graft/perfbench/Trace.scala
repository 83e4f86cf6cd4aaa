package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval around a call into a layer. `parent` is the id of
  * the span open when this one started (-1 at top level); `pass` and
  * `op` name the pass and the operation (query or dataset) it belongs
  * to.
  */
final case class Span(
    id: Int, name: String, parent: Int, pass: Int, op: String,
    start: Long, end: Long) {
  def nanos: Long = end - start
}

/** In-memory span recorder. Spans are kept until the run ends and then
  * written to the out file. A disabled tracer runs the body and records
  * nothing, so untraced runs pay one closure call per boundary.
  *
  * Every boundary is crossed on the driver thread that issues the
  * operation (the load is a single closed-loop client), so the open-span
  * stack needs no synchronisation.
  */
final class Tracer(val enabled: Boolean) {
  private val recorded = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  var pass: Int = 0
  var op: String = ""

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val start = System.nanoTime()
      try body
      finally {
        recorded += Span(id, name, parent, pass, op, start, System.nanoTime())
        open = open.tail
      }
    }

  def spans: Seq[Span] = recorded.toSeq

  private val counted = collection.mutable.Map.empty[(Int, String), Long]

  /** Adds `n` to the counter `name` of the current pass. */
  def add(name: String, n: Long = 1): Unit =
    if (enabled) counted((pass, name)) = counted.getOrElse((pass, name), 0L) + n

  /** Counter `name` summed over the passes `keep` accepts. */
  def counter(name: String)(keep: Int => Boolean): Long =
    counted.iterator.collect { case ((p, n), v) if n == name && keep(p) => v }.sum
}

object Tracer {
  /** Total time of `spans` named `name`, in seconds. */
  def seconds(spans: Seq[Span], name: String): Double =
    spans.iterator.filter(_.name == name).map(_.nanos).sum / 1e9

  /** Summed self time of `spans` named `name`, in seconds; children are
    * looked up among `all`.
    */
  def selfSeconds(spans: Seq[Span], all: Seq[Span], name: String): Double = {
    val children = all.groupBy(_.parent)
    spans.iterator.filter(_.name == name)
      .map(s => selfTime(s, children.getOrElse(s.id, Nil)))
      .sum / 1e9
  }

  /** A span's duration minus the union of its children's intervals
    * (clipped to the span), so overlapping children are not subtracted
    * twice.
    */
  def selfTime(s: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = a
        curEnd = b
      } else curEnd = math.max(curEnd, b)
    }
    if (curEnd > curStart) covered += curEnd - curStart
    s.nanos - covered
  }
}

/** Order statistics for operation latencies. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that still has at least ten samples above
    * it, as (value, percentile). Sorted ascending, that is the sample at
    * index n - 11, at percentile 100 (n - 10) / n. Below 20 samples that
    * sample lies under the median, which says nothing about the tail, so
    * the maximum is reported at percentile 100.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n < 20) (s.last, 100.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }
}

/** Everything the seed decides. The program never sees the seed; it sees
  * only the operation order and which sources changed.
  */
object Plan {
  /** A generator per (seed, salt). Both pass through a 64-bit mixer
    * first: `java.util.Random` seeded with nearby values starts with
    * nearly the same draws, which would hand consecutive seeds the same
    * first operation.
    */
  private def rng(seed: Long, salt: Long) =
    new scala.util.Random(mix(mix(seed) ^ salt))

  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Operation order within pass `pass`. */
  def order[A](seed: Long, pass: Int, ops: Seq[A]): Seq[A] =
    rng(seed, pass).shuffle(ops)

  /** The `k` datasets whose sources change in the partial pass of cycle
    * `cycle`.
    */
  def changed(seed: Long, cycle: Int, names: Seq[String], k: Int): Set[String] = {
    require(k >= 1 && k < names.size, s"need 1 <= k < ${names.size}, got $k")
    rng(seed, 1000003L + cycle).shuffle(names.sorted).take(k).toSet
  }
}
