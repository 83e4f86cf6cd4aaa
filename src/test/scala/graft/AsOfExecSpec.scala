package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.BucketedCatalog
import graft.ops.AsOfJoin
import graft.plans.AsOfDir

/** The custom Catalyst as-of operator (graft.plans.AsOfJoinNode /
  * AsOfJoinStrategy / AsOfJoinExec) and its chunked and auto tiers:
  * semantics proven equal to the plain-Scala [[AsOfReference]] on
  * fixtures, nulls, ties, tolerance and randomized data; the PHYSICAL
  * value proven on the plan — exchanges appear only where the child
  * layout doesn't already satisfy the declared distribution
  * (repartitioned and bucketed inputs join with zero added shuffle).
  */
class AsOfExecSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)

  private def sorted(rs: Seq[Seq[Any]]): Seq[Seq[Any]] =
    rs.sortBy(_.mkString("|"))

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    sorted(df.collect().map(_.toSeq).toSeq)

  /** The reference's rows, in [[rows]]' order. */
  private def ref(left: DataFrame, right: DataFrame, keys: Seq[String],
      dir: AsOfDir, tol: Option[Long] = None,
      tiebreak: Seq[String] = Nil): Seq[Seq[Any]] =
    sorted(AsOfReference.join(left, right, keys, "ts", "ts", dir, tiebreak,
      tol))

  private val dirs = Seq(AsOfDir.Backward, AsOfDir.Forward, AsOfDir.Nearest)

  test("backward exec: fixture semantics match the reference") {
    val left = Seq(
      (1L, "u1", ts(0)), (2L, "u1", ts(5)), (3L, "u1", ts(7)),
      (4L, "u1", ts(12)), (5L, "u2", ts(6))
    ).toDF("event_id", "user", "ts")
    val right = Seq(
      ("u1", ts(5), 100.0), ("u1", ts(10), 200.0),
      ("u2", ts(2), 50.0), ("u3", ts(0), 9.0)
    ).toDF("user", "ts", "quote")

    val exec = AsOfJoin.asofJoin(left, right, Seq("user"), "ts", "ts",
      AsOfDir.Backward)
    assert(exec.schema.fieldNames.toSeq ===
      Seq("event_id", "user", "ts", "quote"))
    assert(rows(exec) === ref(left, right, Seq("user"), AsOfDir.Backward))
    val out = exec.orderBy("event_id").collect()
    assert(out.map(r => (r.getLong(0), if (r.isNullAt(3)) null else r.getDouble(3)))
      .toSeq === Seq(
      (1L, null), (2L, 100.0), (3L, 100.0), (4L, 200.0), (5L, 50.0)))
  }

  test("forward exec: earliest right at-or-after, equal to the reference") {
    val left = Seq((1L, "u", ts(0)), (2L, "u", ts(5)), (3L, "u", ts(11)))
      .toDF("id", "user", "ts")
    val right = Seq(("u", ts(5), 1.0), ("u", ts(10), 2.0))
      .toDF("user", "ts", "v")
    val exec = AsOfJoin.asofJoin(left, right, Seq("user"), "ts", "ts",
      AsOfDir.Forward)
    assert(rows(exec) === ref(left, right, Seq("user"), AsOfDir.Forward))
    val byId = exec.orderBy("id").collect()
      .map(r => if (r.isNullAt(3)) null else r.getDouble(3)).toSeq
    assert(byId === Seq(1.0, 1.0, null))
  }

  test("tiebreak pins the winner at equal (key, ts) — both directions") {
    val left = Seq((1L, "u", ts(5))).toDF("id", "user", "ts")
    val right = Seq(("u", ts(5), 1.0), ("u", ts(5), 9.0)).toDF("user", "ts", "v")
    val b = AsOfJoin.asofJoin(left, right, Seq("user"), "ts", "ts",
      AsOfDir.Backward, rightTiebreak = Seq("v"))
    assert(b.head().getDouble(3) === 9.0) // last in (ts, v) order
    val f = AsOfJoin.asofJoin(left, right, Seq("user"), "ts", "ts",
      AsOfDir.Forward, rightTiebreak = Seq("v"))
    assert(f.head().getDouble(3) === 1.0) // first in (ts, v) order
    for ((df, d) <- Seq(b -> AsOfDir.Backward, f -> AsOfDir.Forward))
      assert(rows(df) === ref(left, right, Seq("user"), d,
        tiebreak = Seq("v")), s"dir=$d")
  }

  test("null keys and null timestamps never match") {
    val left = Seq(
      (1L, Option("u"), Option(ts(5))),
      (2L, Option.empty[String], Option(ts(5))), // null key
      (3L, Option("u"), Option.empty[Timestamp]) // null ts
    ).toDF("id", "user", "ts")
    val right = Seq(
      (Option("u"), Option(ts(1)), 1.0),
      (Option.empty[String], Option(ts(0)), 666.0), // null-key right: dropped
      (Option("u"), Option.empty[Timestamp], 667.0) // null-ts right: dropped
    ).toDF("user", "ts", "v")
    for ((dir, want) <- Seq(AsOfDir.Backward -> Seq(1.0, null, null),
        AsOfDir.Forward -> Seq(null, null, null))) {
      val exec = AsOfJoin.asofJoin(left, right, Seq("user"), "ts", "ts", dir)
      val got = exec.orderBy("id").collect()
        .map(r => if (r.isNullAt(3)) null else r.getDouble(3)).toSeq
      assert(got === want, s"direction=$dir")
      assert(!got.contains(666.0) && !got.contains(667.0))
    }
  }

  test("randomized: exec == reference on both directions (nulls, dup ts, skew)") {
    val rnd = new scala.util.Random(4242)
    def mkTs(): Option[Timestamp] =
      if (rnd.nextInt(20) == 0) None else Some(ts(rnd.nextInt(40)))
    def mkKey(): Option[String] =
      if (rnd.nextInt(15) == 0) None
      else Some("k" + rnd.nextInt(6)) // few keys -> heavy per-key timelines
    val left = Seq.tabulate(400)(i => (i.toLong, mkKey(), mkTs()))
      .toDF("id", "k", "ts")
    val right = Seq.tabulate(300)(i => (mkKey(), mkTs(), i.toDouble))
      .toDF("k", "ts", "payload")
    // dedup per (k, ts) so both impls see a deterministic winner
    val r1 = right.groupBy("k", "ts").agg(max("payload").as("payload"))

    for (d <- Seq(AsOfDir.Backward, AsOfDir.Forward))
      assert(rows(AsOfJoin.asofJoin(left, r1, Seq("k"), "ts", "ts", d)) ===
        ref(left, r1, Seq("k"), d), s"dir=$d")
  }

  test("nearest exec: closer side wins, tie -> backward, equal to the reference") {
    val left = Seq(
      (1L, "u", ts(4)),  // back@0 dist 4, fwd@5 dist 1 -> fwd
      (2L, "u", ts(1)),  // back@0 dist 1, fwd@5 dist 4 -> back
      (3L, "u", ts(10)), // back@5 dist 5, fwd@15 dist 5 -> tie -> back
      (4L, "u", ts(20)), // back@15 dist 5, no fwd -> back
      (5L, "v", ts(3))   // no rights for v -> null
    ).toDF("id", "user", "ts")
    val right = Seq(
      ("u", ts(0), 10.0), ("u", ts(5), 20.0), ("u", ts(15), 30.0)
    ).toDF("user", "ts", "v")
    val exec = AsOfJoin.asofJoin(left, right, Seq("user"), "ts", "ts",
      AsOfDir.Nearest)
    assert(rows(exec) === ref(left, right, Seq("user"), AsOfDir.Nearest))
    val got = exec.orderBy("id").collect()
      .map(r => if (r.isNullAt(3)) null else r.getDouble(3)).toSeq
    assert(got === Seq(20.0, 10.0, 20.0, 30.0, null))
  }

  test("nearest exec: left before first right takes the forward side") {
    val left = Seq((1L, "u", ts(0))).toDF("id", "user", "ts")
    val right = Seq(("u", ts(7), 1.5)).toDF("user", "ts", "v")
    val out = AsOfJoin.asofJoin(left, right, Seq("user"), "ts", "ts",
      AsOfDir.Nearest)
    assert(out.head().getDouble(3) === 1.5)
  }

  test("randomized nearest: exec == reference (nulls, dup ts, dense keys)") {
    val rnd = new scala.util.Random(777)
    def mkTs(): Option[Timestamp] =
      if (rnd.nextInt(20) == 0) None else Some(ts(rnd.nextInt(40)))
    def mkKey(): Option[String] =
      if (rnd.nextInt(15) == 0) None else Some("k" + rnd.nextInt(6))
    val left = Seq.tabulate(400)(i => (i.toLong, mkKey(), mkTs()))
      .toDF("id", "k", "ts")
    val right = Seq.tabulate(300)(i => (mkKey(), mkTs(), i.toDouble))
      .toDF("k", "ts", "payload")
      .groupBy("k", "ts").agg(max("payload").as("payload"))
    val e = AsOfJoin.asofJoin(left, right, Seq("k"), "ts", "ts",
      AsOfDir.Nearest)
    assert(rows(e) === ref(left, right, Seq("k"), AsOfDir.Nearest))
  }

  test("tolerance bounds the match window (backward/forward/nearest)") {
    val left = Seq((1L, "u", ts(10))).toDF("id", "user", "ts")
    val right = Seq(("u", ts(0), 1.0), ("u", ts(12), 2.0))
      .toDF("user", "ts", "v")
    def payload(df: org.apache.spark.sql.DataFrame): Any = {
      val r = df.head(); if (r.isNullAt(3)) null else r.getDouble(3)
    }
    val min = 60L * 1000000L
    def within(d: AsOfDir, tol: Long) = payload(AsOfJoin.asofJoin(left,
      right, Seq("user"), "ts", "ts", d, toleranceMicros = Some(tol)))
    // backward cand @0 (dist 10m), forward cand @12 (dist 2m)
    assert(within(AsOfDir.Backward, 10 * min) === 1.0)
    assert(within(AsOfDir.Backward, 5 * min) === null)
    assert(within(AsOfDir.Forward, 2 * min) === 2.0)
    assert(within(AsOfDir.Forward, 1 * min) === null)
    // nearest picks the nearer IN-TOLERANCE side: fwd in, back out
    assert(within(AsOfDir.Nearest, 3 * min) === 2.0)
    assert(within(AsOfDir.Nearest, 1 * min) === null)
  }

  test("tolerance == post-filter of the unbounded match (randomized)") {
    val rnd = new scala.util.Random(99)
    val left = Seq.tabulate(300)(i =>
      (i.toLong, "k" + rnd.nextInt(5), ts(rnd.nextInt(40))))
      .toDF("id", "k", "ts")
    val right = Seq.tabulate(200)(i =>
      ("k" + rnd.nextInt(5), ts(rnd.nextInt(40)), i.toDouble))
      .toDF("k", "ts", "payload")
      .groupBy("k", "ts").agg(max("payload").as("payload"))
    val tol = 5L * 60L * 1000000L // 5 minutes
    // unbounded join with the right ts smuggled through the payload,
    // post-filtered by distance — must equal the in-operator tolerance
    val withTs = right.withColumn("rts", col("ts"))
    val post = AsOfJoin.asofJoin(left, withTs, Seq("k"), "ts", "ts",
        AsOfDir.Backward)
      .withColumn("payload", when(
        col("ts").cast("long") - col("rts").cast("long") <= tol / 1000000L,
        col("payload")))
      .drop("rts")
    val inOp = AsOfJoin.asofJoin(left, right, Seq("k"), "ts", "ts",
      AsOfDir.Backward, toleranceMicros = Some(tol))
    assert(rows(inOp) === rows(post))
    // and every direction equals the reference's candidate filter
    for (d <- dirs)
      assert(rows(AsOfJoin.asofJoin(left, right, Seq("k"), "ts", "ts", d,
        toleranceMicros = Some(tol))) ===
        ref(left, right, Seq("k"), d, Some(tol)), s"dir=$d")
  }

  test("composite keys: equality on every key column + one inequality") {
    val left = Seq(
      (1L, "AAPL", "NYSE", ts(5)),
      (2L, "AAPL", "ARCA", ts(5)), // same symbol, other venue
      (3L, "MSFT", "NYSE", ts(5))
    ).toDF("id", "symbol", "venue", "ts")
    val right = Seq(
      ("AAPL", "NYSE", ts(1), 101.0),
      ("AAPL", "ARCA", ts(2), 102.0),
      ("MSFT", "ARCA", ts(0), 201.0) // venue mismatch for id=3
    ).toDF("symbol", "venue", "ts", "px")
    val out = AsOfJoin.asofJoin(left, right,
      Seq("symbol", "venue"), "ts", "ts", AsOfDir.Backward)
      .orderBy("id").collect()
      .map(r => if (r.isNullAt(4)) null else r.getDouble(4)).toSeq
    assert(out === Seq(101.0, 102.0, null))
  }

  test("composite keys randomized: exec == the reference on the key tuple") {
    val rnd = new scala.util.Random(1234)
    def mkTs(): Option[Timestamp] =
      if (rnd.nextInt(20) == 0) None else Some(ts(rnd.nextInt(40)))
    val left = Seq.tabulate(400)(i =>
      (i.toLong, "s" + rnd.nextInt(3), "v" + rnd.nextInt(3), mkTs()))
      .toDF("id", "sym", "ven", "ts")
    val right = Seq.tabulate(300)(i =>
      ("s" + rnd.nextInt(3), "v" + rnd.nextInt(3), mkTs(), i.toDouble))
      .toDF("sym", "ven", "ts", "px")
      .groupBy("sym", "ven", "ts").agg(max("px").as("px"))
    // the reference matches on the (sym, ven) tuple
    for (d <- dirs)
      assert(rows(AsOfJoin.asofJoin(left, right, Seq("sym", "ven"), "ts",
        "ts", d)) === ref(left, right, Seq("sym", "ven"), d), s"dir=$d")
  }

  test("chunked exec on 90%-one-key skew: == reference and plain exec, " +
      "all directions") {
    val rnd = new scala.util.Random(31337)
    // 90% of rows on one hot key — the regime the (key, bucket) spread
    // exists for
    def key(): String = if (rnd.nextInt(10) == 0) "k" + rnd.nextInt(4)
      else "hot"
    val left = Seq.tabulate(600)(i => (i.toLong, key(), ts(rnd.nextInt(120))))
      .toDF("id", "k", "ts")
    val right = Seq.tabulate(400)(i => (key(), ts(rnd.nextInt(120)), i.toDouble))
      .toDF("k", "ts", "px")
      .groupBy("k", "ts").agg(max("px").as("px"))
    for (d <- dirs) {
      val want = ref(left, right, Seq("k"), d)
      assert(rows(AsOfJoin.asofJoinChunked(
        left, right, "k", "ts", "ts", d, numBuckets = 8)) === want,
        s"dir=$d chunked")
      assert(rows(AsOfJoin.asofJoin(left, right, Seq("k"), "ts", "ts", d)) ===
        want, s"dir=$d plain")
    }
  }

  test("chunked exec spreads the hot key over multiple tasks") {
    val left = Seq.tabulate(400)(i => (i.toLong, "hot", ts(i % 100)))
      .toDF("id", "k", "ts")
    val right = Seq.tabulate(100)(i => ("hot", ts(i), i.toDouble))
      .toDF("k", "ts", "px")
    val joined = AsOfJoin.asofJoinChunked(
      left, right, "k", "ts", "ts", AsOfDir.Backward, numBuckets = 8)
    // one key, 8 buckets: the left side of the exec must occupy > 1
    // partition (the plain exec would put the whole key in ONE task)
    import org.apache.spark.sql.functions.spark_partition_id
    val parts = joined.withColumn("p", spark_partition_id())
      .select("p").distinct().count()
    assert(parts > 1, s"hot key not spread: $parts partition(s)")
    // and the result is still the reference answer
    assert(rows(joined) === ref(left, right, Seq("k"), AsOfDir.Backward))
  }

  test("tolerance composes with the chunked spread: chunked exec == " +
      "plain exec under the same bound, all directions, skewed data") {
    val rnd = new scala.util.Random(90210)
    def key(): String = if (rnd.nextInt(10) == 0) "k" + rnd.nextInt(4)
      else "hot"
    val left = Seq.tabulate(500)(i => (i.toLong, key(), ts(rnd.nextInt(200))))
      .toDF("id", "k", "ts")
    val right = Seq.tabulate(300)(i => (key(), ts(rnd.nextInt(200)), i.toDouble))
      .toDF("k", "ts", "px")
      .groupBy("k", "ts").agg(max("px").as("px"))
    val tol = Some(7L * 60L * 1000000L) // 7 minutes
    for (d <- dirs) {
      val chunked = AsOfJoin.asofJoinChunked(left, right, "k", "ts",
        "ts", d, numBuckets = 8, toleranceMicros = tol)
      val plain = AsOfJoin.asofJoin(left, right, Seq("k"), "ts", "ts", d,
        toleranceMicros = tol)
      assert(rows(chunked) === rows(plain), s"dir=$d")
      assert(rows(chunked) === ref(left, right, Seq("k"), d, tol), s"dir=$d")
      // the bound must bite on this fixture, or the test is vacuous
      val unbounded = AsOfJoin.asofJoinChunked(left, right, "k", "ts",
        "ts", d, numBuckets = 8)
      assert(chunked.filter(col("px").isNull).count() >
        unbounded.filter(col("px").isNull).count(), s"dir=$d vacuous")
    }
  }

  test("auto-dispatch: uniform keys plan the plain exec, a hot key " +
      "plans the chunked (key, bucket) spread — rows identical") {
    val rnd = new scala.util.Random(777)
    // which tier the logical plan carries: the plain exec joins on
    // ONE key, the chunked composition on TWO ((key, __b))
    def execKeyCounts(df: DataFrame): Seq[Int] =
      df.queryExecution.analyzed.collect {
        case n: graft.plans.AsOfJoinNode => n.leftKeys.length
      }
    val uniform = Seq.tabulate(300)(i =>
      (i.toLong, "k" + (i % 50), ts(rnd.nextInt(100)))).toDF("id", "k", "ts")
    val hot = Seq.tabulate(300)(i =>
      (i.toLong, if (i % 10 == 0) "k" + i else "hot", ts(rnd.nextInt(100))))
      .toDF("id", "k", "ts")
    def rightOf(l: DataFrame) = l.filter(pmod(col("id"), lit(3)) === 0)
      .select(col("k"), col("ts"), col("id").cast("double").as("px"))
      .groupBy("k", "ts").agg(max("px").as("px"))
    // threshold between the uniform max (300/50 ≈ 2×6=12/key) and the
    // hot max (~270 lefts + ~90 rights on "hot"): flips the tier
    val thr = 100L
    val autoUniform = AsOfJoin.asofJoinAuto(uniform, rightOf(uniform),
      "k", "ts", "ts", hotKeyRowThreshold = thr)
    assert(execKeyCounts(autoUniform) === Seq(1),
      "uniform keys must dispatch to the plain single-key exec")
    val autoHot = AsOfJoin.asofJoinAuto(hot, rightOf(hot),
      "k", "ts", "ts", hotKeyRowThreshold = thr)
    assert(execKeyCounts(autoHot) === Seq(2),
      "hot key must dispatch to the chunked (key, bucket) exec")
    // the dispatch never changes the result — both regimes equal the
    // reference's rows
    for ((l, auto) <- Seq((uniform, autoUniform), (hot, autoHot)))
      assert(rows(auto) === ref(l, rightOf(l), Seq("k"), AsOfDir.Backward))
    // NULL keys count as a straggler group: the plain exec's hash
    // distribution puts every null-key row in ONE partition, so a
    // null-heavy input must dispatch to the chunked spread — and the
    // chunked tier's rows must still equal the reference's (null
    // lefts keep null payload)
    val nullHeavy = Seq.tabulate(300)(i =>
      (i.toLong, if (i % 5 == 0) "k" + (i % 7) else null, ts(i % 90)))
      .toDF("id", "k", "ts")
    assert(AsOfJoin.maxKeyTimelineRows(
      nullHeavy, rightOf(nullHeavy), "k") >= 240)
    val autoNull = AsOfJoin.asofJoinAuto(nullHeavy, rightOf(nullHeavy),
      "k", "ts", "ts", hotKeyRowThreshold = thr)
    assert(execKeyCounts(autoNull) === Seq(2))
    assert(rows(autoNull) ===
      ref(nullHeavy, rightOf(nullHeavy), Seq("k"), AsOfDir.Backward))
    // mismatched key types fail the PROBE with the join's own clear
    // message, not a union-schema error from inside maxKeyTimelineRows
    val intKeyed = uniform.withColumn("k", lit(7))
    val ex = intercept[IllegalArgumentException] {
      AsOfJoin.asofJoinAuto(intKeyed, rightOf(uniform),
        "k", "ts", "ts", hotKeyRowThreshold = thr)
    }
    assert(ex.getMessage.contains("key type mismatch"), ex.getMessage)
  }

  test("self-join: same frame on both sides (fresh right exprIds)") {
    val ev = Seq((1L, "u", ts(1), 1.0), (2L, "u", ts(3), 2.0))
      .toDF("id", "user", "ts", "v")
    val out = AsOfJoin.asofJoin(
      ev.select("id", "user", "ts"),
      ev.select(col("user"), col("ts"), col("v").as("prior_v")),
      Seq("user"), "ts", "ts", AsOfDir.Backward)
    assert(out.orderBy("id").collect().map(_.getDouble(3)).toSeq ===
      Seq(1.0, 2.0))
  }

  test("plan: AsOfJoinExec present; raw inputs get exactly the two " +
    "planner-inserted exchanges") {
    val left = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"))
    val right = Tables.events(spark, sf)
      .filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("value").as("sv"))
    val joined = AsOfJoin.asofJoin(left, right, Seq("user_id"), "ts", "ts",
      AsOfDir.Backward)
    joined.collect()
    // AQE's toString carries both the final and the initial plan;
    // count exchanges in the final section only
    val plan = joined.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("AsOfJoin"), plan)
    assert("ENSURE_REQUIREMENTS".r.findAllIn(plan).size === 2, plan)
  }

  test("plan: pre-repartitioned inputs are REUSED — zero " +
    "planner-inserted exchanges") {
    val ev = Tables.events(spark, sf)
    val left = ev.select(col("event_id"), col("ts"), col("user_id"))
      .repartition(4, col("user_id"))
    val right = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("value").as("sv"))
      .repartition(4, col("user_id"))
    val joined = AsOfJoin.asofJoin(left, right, Seq("user_id"), "ts", "ts",
      AsOfDir.Backward)
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan)
    assert(!plan.contains("ENSURE_REQUIREMENTS"),
      s"declared distribution should reuse the user's partitioning:\n$plan")
    // semantics unchanged by the layout
    assert(rows(joined) === ref(left, right, Seq("user_id"), AsOfDir.Backward))
  }

  test("plan: bucketed tables as-of join with ZERO exchanges") {
    val cat = new BucketedCatalog(spark, "graft_test")
    val ev = Tables.events(spark, sf)
    val left = ev.select(col("event_id"), col("ts"), col("user_id"))
    val right = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("value").as("sv"))
    cat.publishBucketed("b_asof_l", left, Seq("user_id"), 4,
      Seq("user_id", "ts"))
    cat.publishBucketed("b_asof_r", right, Seq("user_id"), 4,
      Seq("user_id", "ts"))
    try {
      val joined = AsOfJoin.asofJoin(cat.table("b_asof_l"),
        cat.table("b_asof_r"), Seq("user_id"), "ts", "ts", AsOfDir.Backward)
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("AsOfJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed as-of should not shuffle either side:\n$plan")
      // row-identical to the reference on unbucketed reads
      assert(rows(joined) ===
        ref(left, right, Seq("user_id"), AsOfDir.Backward))
    } finally {
      cat.drop("b_asof_l"); cat.drop("b_asof_r")
    }
  }

  test("sf0.001 events: exec matches the reference on the driver-query shape") {
    val ev = Tables.events(spark, sf)
    val left = ev.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"))
    val right = {
      import graft.ops.Ops._
      ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("value").as("signup_value"))
        .distinctOn(Seq(col("user_id"), col("ts")),
          Seq(col("signup_value").desc))
    }
    for (d <- dirs)
      assert(rows(AsOfJoin.asofJoin(left, right, Seq("user_id"), "ts", "ts", d))
        === ref(left, right, Seq("user_id"), d), s"dir=$d")
  }
}
