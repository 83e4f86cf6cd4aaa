package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.JaroWinkler
import graft.queries.Mining

/** Round-10 operators: co-occurrence hand-counts, k-core peel on known
  * graphs, planted asymmetric containment, first-occurrence dedup
  * order, deterministic masking, bootstrap CI sanity, constraint-suite
  * verdicts, linkage decision rule, SAX invariants — plus a
  * codegen-compilability regression for the JaroWinkler expression
  * (its generated code once referenced MODULE$ on the mirror class,
  * failed Janino, and silently dropped every jw plan to the
  * interpreted path).
  */
class MiningSpec extends SparkSpec {
  import spark.implicits._

  // ---- JaroWinkler codegen regression --------------------------------

  test("jw: generated code COMPILES (no silent interpreted fallback)") {
    // UnsafeProjection.create compiles the expression's doGenCode via
    // Janino directly — a codegen bug throws here instead of being
    // swallowed by WholeStageCodegen's fallback.
    val expr = JaroWinkler(
      BoundReference(0, StringType, nullable = false),
      BoundReference(1, StringType, nullable = false))
    val proj = UnsafeProjection.create(Seq(expr))
    val row = InternalRow(
      UTF8String.fromString("martha"), UTF8String.fromString("marhta"))
    val got = proj(row).getDouble(0)
    assert(math.abs(got - 0.9611111111111111) < 1e-15)
  }

  // ---- rec1 ----------------------------------------------------------

  test("rec1: pair counts and cosine scores match a hand recount") {
    val out = Mining.rec1ItemCooc(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    assert(out.nonEmpty)
    // recount one pair from the raw table
    val ((a, b), (nAb, score)) = out.head
    val d = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val baskets = d.groupBy(_._1).map { case (_, xs) => xs.map(_._2).toSet }
      .filter(s => s.size >= 2 && s.size <= 50).toSeq
    val na = baskets.count(_.contains(a))
    val nb = baskets.count(_.contains(b))
    val nab = baskets.count(s => s.contains(a) && s.contains(b))
    assert(nAb == nab && nab >= 2)
    assert(math.abs(score -
      BigDecimal(nab / math.sqrt(na.toDouble * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
    // ordered pairs, a < b always
    assert(out.keys.forall { case (x, y) => x < y })
  }

  // ---- kcore peel ----------------------------------------------------

  test("kcore: pendant chain peels away, triangle core survives, deg correct") {
    // triangle {1,2,3} + chain 3-4-5 hanging off it
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val got = Mining.kcorePeel(e, k = 2, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kcore: bounded rounds are a prefix of the fixpoint (monotone shrink)") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("a", "b")
    val r1 = Mining.kcorePeel(e, 2, 1).collect().map(_.getLong(0)).toSet
    val r2 = Mining.kcorePeel(e, 2, 2).collect().map(_.getLong(0)).toSet
    val r3 = Mining.kcorePeel(e, 2, 3).collect().map(_.getLong(0)).toSet
    assert(r2.subsetOf(r1) && r3.subsetOf(r2))
    // the 6-path fully dissolves at the fixpoint; the triangle never does
    assert(r3.intersect(Set(10L, 11L, 12L)) == Set(10L, 11L, 12L))
  }

  // ---- dd13 containment ----------------------------------------------

  test("dd13: planted quote is caught DIRECTIONALLY (a-in-b, not b-in-a)") {
    val dir = java.nio.file.Files.createTempDirectory("dd13").toString
    // vocab disjoint from the real corpus is irrelevant here — build a
    // private corpus: doc 1 = 12-token quote, doc 2 = quote + 38 fillers,
    // plus unique background docs so the df cap (5%) doesn't fire.
    val quote = (1 to 12).map(i => s"q$i").mkString(" ")
    val host = quote + " " + (1 to 38).map(i => s"h$i").mkString(" ")
    val bg = (3 to 60).map(i =>
      (i.toLong, (1 to 20).map(j => s"w${i}_$j").mkString(" ")))
    val docs = (Seq((1L, quote), (2L, host)) ++ bg)
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Mining.dd13Containment(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(4))).toMap
    assert(out.contains((1L, 2L)) && out((1L, 2L)) == 1.0)
    assert(!out.contains((2L, 1L))) // host is NOT contained in the quote
  }

  // ---- t15 word dedup ------------------------------------------------

  test("t15: keeps FIRST occurrence in order; ratio exact") {
    val out = Mining.t15WordDedup(spark, sf)
      .filter(col("doc_id") === 0L).collect()(0)
    val text = Tables.documents(spark, sf)
      .filter(col("doc_id") === 0L).select("text").as[String].collect()(0)
    val toks = text.split(" ").toSeq
    val expected = toks.distinct // Scala distinct = first occurrence kept
    assert(out.getAs[String]("cleaned") == expected.mkString(" "))
    assert(out.getAs[Long]("n_tokens") == toks.size.toLong)
    assert(out.getAs[Long]("n_distinct") == expected.size.toLong)
  }

  // ---- msk1 masking --------------------------------------------------

  test("msk1: deterministic, position-keyed, ~15% rate, non-masked tokens intact") {
    val a = Mining.msk1TokenMask(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(3))).toMap
    val b = Mining.msk1TokenMask(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(3))).toMap
    assert(a == b) // deterministic across runs
    val stats = Mining.msk1TokenMask(spark, sf)
      .agg(sum("n_masked").cast("double") / sum("n_tokens")).collect()(0)
      .getDouble(0)
    assert(stats > 0.10 && stats < 0.20) // 15% +- sampling noise
    // unmasked positions carry the original token
    val doc = Tables.documents(spark, sf).filter(col("doc_id") === 3L)
      .select("text").as[String].collect()(0).split(" ")
    val masked = a(3L).split(" ")
    assert(doc.length == masked.length)
    doc.zip(masked).foreach { case (o, m) =>
      assert(m == "<mask>" || m == o)
    }
  }

  // ---- bs1 bootstrap -------------------------------------------------

  test("bs1: CI brackets the full-sample mean and is deterministic") {
    val r1 = Mining.bs1BootstrapCi(spark, sf).collect()(0)
    val r2 = Mining.bs1BootstrapCi(spark, sf).collect()(0)
    assert(r1 == r2)
    val (mean, lo, hi) = (r1.getAs[Double]("mean6"),
      r1.getAs[Double]("ci_lo6"), r1.getAs[Double]("ci_hi6"))
    assert(lo < mean && mean < hi)
    // a 95% CI of a mean over n rows should be tight-ish: width under
    // ~8 standard errors' worth of slack is a loose sanity band
    assert((hi - lo) / mean < 0.2)
  }

  test("bs1: n, mean and CI equal a plain-Scala Poisson bootstrap over the collected orders") {
    import BigDecimal.RoundingMode.HALF_UP
    val orders = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    def knuth(k: Long): Long = Math.floorMod(k * 2654435761L, 4294967296L)
    val thresholds = Seq(367879L, 735759L, 919699L, 981012L, 996340L)
    def weight(k: Long): Int = {
      val i = thresholds.indexWhere(knuth(k) % 1000000L < _)
      if (i < 0) 5 else i
    }
    def dec2(x: Double) = BigDecimal(x).setScale(2, HALF_UP)
    def round6(x: Double) = BigDecimal(x).setScale(6, HALF_UP).toDouble
    val means = (0 until 32).map { b =>
      val wp = orders.map { case (k, p) => (weight(k * 37 + b), p) }
      wp.map { case (w, p) => dec2(p * w) }.sum.toDouble /
        wp.map(_._1.toLong).sum.toDouble
    }.sorted
    val n = orders.length.toLong
    val got = Mining.bs1BootstrapCi(spark, sf).collect()
    assert(got.length == 1)
    assert(got(0).getLong(0) == n)
    assert(got(0).getAs[Double]("mean6") ==
      round6(orders.map(o => dec2(o._2)).sum.toDouble / n))
    assert(got(0).getAs[Double]("ci_lo6") == round6(means(1)))
    assert(got(0).getAs[Double]("ci_hi6") == round6(means(30)))
  }

  // ---- dq1 constraints -----------------------------------------------

  test("dq1: clean TPC-H slice passes every constraint; metrics are ratios") {
    val rows = Mining.dq1Constraints(spark, sf).collect()
    assert(rows.length == 6)
    val byName = rows.map(r => r.getString(0) ->
      (r.getDouble(1), r.getInt(2))).toMap
    assert(byName.values.forall(_._2 == 1))
    assert(byName("completeness:o_custkey")._1 == 1.0)
    assert(byName("uniqueness:o_orderkey")._1 == 1.0)
    assert(byName("ri:l_orderkey->orders")._1 == 1.0)
  }

  // ---- rl1 linkage ---------------------------------------------------

  test("rl1: accept rule holds; every left record is scored once") {
    val rows = Mining.rl1RecordLinkage(spark, sf).collect()
    val keys = rows.map(_.getLong(0))
    assert(keys.distinct.length == keys.length) // one decision per left
    rows.foreach { r =>
      val (best, margin, acc) =
        (r.getAs[Double]("best6"), r.getAs[Double]("margin6"),
          r.getAs[Int]("accepted"))
      assert(best >= 0.0 && best <= 1.0)
      if (acc == 1) assert(best >= 0.95 && margin >= 0.01)
      else assert(best < 0.95 || margin < 0.01)
      assert(r.getAs[Long]("best_key") % 2 == 0) // matches come from file B
    }
  }

  // ---- sax1 ----------------------------------------------------------

  test("sax1: 16 segments, z-scores centered, symbols consistent with z") {
    val rows = Mining.sax1SaxSymbols(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSet == (0L until 16L).toSet)
    val zs = rows.map(_.getAs[Double]("z6"))
    // PAA means weighted by segment size average out to ~the series mean
    assert(math.abs(zs.sum / zs.length) < 0.5)
    rows.foreach { r =>
      val (z, sym) = (r.getAs[Double]("z6"), r.getString(4))
      val expected = if (z < -0.6745) "a" else if (z < 0) "b"
        else if (z < 0.6745) "c" else "d"
      assert(sym == expected)
    }
  }
}
