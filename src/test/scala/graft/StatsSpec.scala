package graft

import org.apache.spark.sql.functions._

import graft.queries.Stats

/** Batch-five round-10 operators: SCD2 lookup version routing,
  * correlation-matrix replay, permutation-test invariants,
  * Lorenz/Gini algebra.
  */
class StatsSpec extends SparkSpec {

  test("u5: every order resolves exactly one dimension version; re-rated keys route by date") {
    val out = Stats.u5Scd2Lookup(spark, sf).collect()
    val orders = Tables.orders(spark, sf).count()
    assert(out.length.toLong == orders) // exactly one version per fact
    val cust = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_acctbal"), col("c_nationkey"))
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.get(2).asInstanceOf[Number].longValue))).toMap
    val cut = java.time.LocalDateTime.of(1998, 1, 1, 0, 0)
    out.take(500).foreach { r =>
      val (bal, nation) = cust(r.getLong(1))
      val od = r.getAs[java.time.LocalDateTime](2)
      val expected = if (nation < 5 && !od.isBefore(cut)) bal * 1.1 else bal
      val exp2 = BigDecimal(expected)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("acctbal_at_order") == exp2)
    }
  }

  test("cor1: one pair replays against a driver-side Pearson; all |r| <= 1") {
    val rows = Stats.cor1CorrelationMatrix(spark, sf).collect()
    assert(rows.length == 6)
    assert(rows.forall(r => math.abs(r.getAs[Double]("r6")) <= 1.0))
    val xs = Tables.lineitem(spark, sf)
      .select("l_quantity", "l_extendedprice").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val n = xs.length.toDouble
    val (sx, sy) = (xs.map(_._1).sum, xs.map(_._2).sum)
    val sxy = xs.map(p => p._1 * p._2).sum
    val sxx = xs.map(p => p._1 * p._1).sum
    val syy = xs.map(p => p._2 * p._2).sum
    val r = (n * sxy - sx * sy) /
      (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    val got = rows.find(x => x.getString(0) == "l_quantity" &&
      x.getString(1) == "l_extendedprice").get.getAs[Double]("r6")
    assert(math.abs(got - r) < 1e-4) // driver fold has float error; r6 is exact
  }

  test("perm1: p-value bounds and determinism; permuted diffs bracket zero") {
    val r1 = Stats.perm1PermutationTest(spark, sf).collect()(0)
    val r2 = Stats.perm1PermutationTest(spark, sf).collect()(0)
    assert(r1 == r2)
    val p = r1.getAs[Double]("p_value6")
    assert(p >= 1.0 / 33 - 1e-9 && p <= 1.0)
    assert(r1.getAs[Long]("n_exceed") >= 0 && r1.getAs[Long]("n_exceed") <= 32)
  }

  test("perm1: observed diff, n_exceed and p-value equal a plain-Scala replay of the 32 coin relabelings") {
    import BigDecimal.RoundingMode.HALF_UP
    val ev = Tables.events(spark, sf)
      .filter(col("event_type").isin("purchase", "view"))
      .select(col("event_id"), col("value"),
        (col("event_type") === "purchase").cast("int"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    def knuth(k: Long): Long = Math.floorMod(k * 2654435761L, 4294967296L)
    def round6(x: Double) = BigDecimal(x).setScale(6, HALF_UP).toDouble
    def meanDiff(label: ((Long, Double, Int)) => Int): Double = {
      def mean(l: Int) = {
        val xs = ev.filter(label(_) == l)
        xs.map(e => BigDecimal(e._2).setScale(2, HALF_UP)).sum.toDouble /
          xs.length
      }
      mean(1) - mean(0)
    }
    val obs = meanDiff(_._3)
    val nExceed = (0 until 32).count { b =>
      math.abs(meanDiff(e => (knuth(e._1 * 61 + b) % 2).toInt)) >=
        math.abs(obs)
    }
    val got = Stats.perm1PermutationTest(spark, sf).collect()
    assert(got.length == 1)
    assert(got(0).getAs[Double]("obs_diff6") == round6(obs))
    assert(got(0).getAs[Long]("n_exceed") == nExceed.toLong)
    assert(got(0).getAs[Double]("p_value6") ==
      round6((nExceed + 1).toDouble / 33.0))
  }

  test("gini1: Lorenz curve is convex-increasing to 1.0; Gini matches a driver replay") {
    val rows = Stats.gini1LorenzGini(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("cum_share6")).toMap
    val curve = (1L to 10L).map(rows)
    assert(curve.last == 1.0)
    assert(curve.zip(curve.tail).forall { case (a, b) => a < b })
    // convexity: increments grow (richer deciles add more); slack covers
    // the 6-dp rounding of each cum share (two roundings per increment)
    val inc = (0.0 +: curve).zip(curve).map { case (a, b) => b - a }
    assert(inc.zip(inc.tail).forall { case (a, b) => b >= a - 2e-6 })
    val spend = Tables.orders(spark, sf)
      .select(col("o_custkey"), round(col("o_totalprice") * 100, 0)
        .cast("long").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => (k, v.map(_._2).sum) }.toSeq
      .sortBy(x => (x._2, x._1)).map(_._2)
    val n = spend.length.toLong
    val sx = spend.sum
    val six = spend.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
    val g = 2.0 * six / (n.toDouble * sx) - (n + 1).toDouble / n
    assert(math.abs(rows(0L) - BigDecimal(g)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(rows(0L) > 0.0 && rows(0L) < 1.0)
  }
}
