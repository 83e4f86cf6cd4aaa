package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Spark's thresholded `levenshtein(a, b, k)`, the contract lev1 and
  * snm1 rely on: the exact distance when it is <= k, -1 above.
  * Plain scalacheck generators with fixed seeds (the PropertySpec
  * pattern — scalatestplus is not in the offline dependency set).
  */
class EditDistanceSpec extends SparkSpec {
  import spark.implicits._

  /** `levenshtein(a, b, k)` over a DataFrame, one value per pair. */
  private def lev(pairs: Seq[(String, String)], k: Int): Seq[Int] =
    pairs.toDF("a", "b")
      .select(levenshtein(col("a"), col("b"), k)).as[Int].collect().toSeq

  test("levenshtein(a, b, k) == full DP if <= k, else -1 (property)") {
    val gen = for {
      a <- Gen.listOfN(8, Gen.oneOf('a', 'b', 'c')).map(_.mkString)
        .flatMap(s => Gen.choose(0, 8).map(s.take))
      b <- Gen.listOfN(8, Gen.oneOf('a', 'b', 'c')).map(_.mkString)
        .flatMap(s => Gen.choose(0, 8).map(s.take))
      k <- Gen.choose(0, 5)
    } yield (a, b, k)
    val cases = (1 to 500).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)))
    assert(cases.length >= 450)
    def full(a: String, b: String): Int = {
      // classic full DP reference
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    cases.groupBy(_._3).foreach { case (k, byK) =>
      val pairs = byK.map { case (a, b, _) => (a, b) }
      pairs.zip(lev(pairs, k)).foreach { case ((a, b), got) =>
        val want = if (full(a, b) <= k) full(a, b) else -1
        assert(got == want, s"a=$a b=$b k=$k full=${full(a, b)}")
      }
    }
  }

  test("goldens: known distances and the cap") {
    def d(a: String, b: String, k: Int) = lev(Seq((a, b)), k).head
    assert(d("kitten", "sitting", 3) == 3)
    assert(d("kitten", "sitting", 2) == -1)  // above k
    assert(d("", "", 5) == 0)
    assert(d("abc", "", 5) == 3)
    assert(d("abc", "", 1) == -1)            // above k
    assert(d("same", "same", 0) == 0)
    assert(d("red widget", "bed widget", 3) == 1)
    assert(d("aaaaaaaaaa", "bbbbbbbbbb", 3) == -1)  // early-exit path
  }
}
