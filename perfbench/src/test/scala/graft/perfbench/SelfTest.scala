package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Tests of the benchmark's own logic. Run with
  * `python3 perfbench/build.py --test`; exits non-zero on any failure.
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def check(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  def main(args: Array[String]): Unit = {
    test("tail: fewer than 20 samples report the maximum at p100") {
      check(Stats.tail(Seq(3.0, 1.0, 2.0)) == ((3.0, 100.0)), "n=3")
      check(Stats.tail((1 to 19).map(_.toDouble)) == ((19.0, 100.0)), "n=19")
    }
    test("tail: the highest percentile with ten samples beyond it") {
      check(Stats.tail((1 to 20).map(_.toDouble)) == ((10.0, 50.0)), "n=20")
      check(Stats.tail((1 to 100).reverse.map(_.toDouble)) == ((90.0, 90.0)), "n=100")
      check(Stats.tail((1 to 1000).map(_.toDouble)) == ((990.0, 99.0)), "n=1000")
      (20 to 300 by 7).foreach { n =>
        val xs = scala.util.Random.shuffle((1 to n).map(_.toDouble))
        val (v, _) = Stats.tail(xs)
        check(xs.count(_ > v) == 10, s"n=$n: ${xs.count(_ > v)} beyond")
      }
    }
    test("median") {
      check(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0, "odd")
      check(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5, "even")
    }

    def span(id: Int, parent: Int, start: Long, end: Long) =
      Span(id, "s", parent, 0, "", start, end)
    test("self time subtracts the union of overlapping children") {
      val p = span(0, -1, 0, 100)
      val kids = Seq(span(1, 0, 10, 30), span(2, 0, 20, 50), span(3, 0, 60, 70),
        span(4, 0, 90, 120))
      // covered: [10,50] + [60,70] + [90,100] = 60
      check(Tracer.selfTime(p, kids) == 40, s"got ${Tracer.selfTime(p, kids)}")
      check(Tracer.selfTime(p, Nil) == 100, "no children")
      check(Tracer.selfTime(p, Seq(span(1, 0, 0, 100), span(2, 0, 5, 6))) == 0, "covered")
    }
    test("tracer links nested spans to their parent") {
      val t = new Tracer(true)
      t.span("outer") { t.span("a")(()); t.span("b")(t.span("c")(())) }
      val byName = t.spans.map(s => s.name -> s).toMap
      check(byName("outer").parent == -1, "outer is top level")
      check(byName("a").parent == byName("outer").id, "a under outer")
      check(byName("c").parent == byName("b").id, "c under b")
      check(Tracer.selfSeconds(t.spans, t.spans, "outer") >= 0, "self time")
      val off = new Tracer(false)
      check(off.span("x")(7) == 7 && off.spans.isEmpty, "disabled records nothing")
    }

    val names = (1 to 16).map(i => s"q$i")
    test("seed determinism: the same seed gives the same order and changed set") {
      check(Plan.order(7, 0, names) == Plan.order(7, 0, names), "order")
      check(Plan.order(7, 0, names).sorted == names.sorted, "a permutation")
      check(Plan.changed(7, 0, names, 3) == Plan.changed(7, 0, names, 3), "changed")
      check(Plan.changed(7, 0, names, 3).size == 3, "size")
    }
    test("seed determinism: another seed gives another order and changed set") {
      check(Plan.order(7, 0, names) != Plan.order(8, 0, names), "order")
      check(Plan.order(7, 0, names) != Plan.order(7, 1, names), "next pass")
      check(Plan.changed(7, 0, names, 3) != Plan.changed(8, 0, names, 3), "changed")
    }

    val schema = StructType(Seq(StructField("id", LongType), StructField("s", StringType),
      StructField("x", DoubleType)))
    def row(id: Long, s: String, x: Double): InternalRow =
      InternalRow(id, UTF8String.fromString(s), x)
    test("fingerprint rounding absorbs summation-order noise") {
      check(Fingerprint.round(0.1 + 0.2) == Fingerprint.round(0.3), "0.1+0.2")
      check(Fingerprint.round(1e-17) == 0.0 && Fingerprint.round(-3e-18) == 0.0, "residue")
      check(Fingerprint.round(-0.0) == 0.0, "negative zero")
      val x = 12345.678901234
      check(Fingerprint.round(x * (1 + 1e-14)) == Fingerprint.round(x), "last bits")
      check(Fingerprint.round(x * (1 + 1e-6)) != Fingerprint.round(x), "real change")
      check(Fingerprint.row(row(1, "a", 0.1 + 0.2), schema) ==
        Fingerprint.row(row(1, "a", 0.3), schema), "row")
    }
    test("fingerprint of a row is pinned") {
      // expected.json holds hashes made by this function; changing it
      // invalidates every recorded fingerprint
      val h = Fingerprint.row(row(1, "a", 0.3), schema)
      check(h == PinnedRowHash, f"row hash changed: 0x$h%016xL")
      check(Fingerprint.row(InternalRow(null, null, null), schema) !=
        Fingerprint.row(row(0, "", 0.0), schema), "null differs from zero")
    }
    test("sink fingerprint ignores row order and partitioning") {
      val spark = SparkSession.builder().master("local[2]")
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      try {
        import org.apache.spark.sql.functions._
        val df = spark.range(0, 5000).select(col("id"),
          (col("id") % 7).cast("string").as("s"), (col("id") / 3.0).as("x"),
          array(col("id"), col("id") + 1).as("a"))
        val a = Fingerprint.write(df, "a")
        val b = Fingerprint.write(df.repartition(5).orderBy(desc("id")), "b")
        check(a == b, s"$a != $b")
        check(a.rows == 5000, s"rows ${a.rows}")
        check(Fingerprint.write(df.limit(4999), "c") != a, "a missing row shows")
      } finally spark.stop()
    }

    if (failures > 0) {
      println(s"$failures test(s) failed")
      sys.exit(1)
    }
    println("all tests passed")
  }

  private val PinnedRowHash = 0x12eddb4e67185d7dL
}
