package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.ops.Ops
import graft.ops.Ops._

/** Unit tests for the core operator combinators (SURVEY.md §2.4/§2.5):
  * the two non-trivial Postgres-isms (DISTINCT ON, ordered first()) plus
  * the filtered-aggregate family.
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    ("a", 3, "x"), ("a", 1, "y"), ("a", 2, "z"),
    ("b", 5, "p"), ("b", 5, "q"),
    ("c", 7, "only")
  ).toDF("k", "v", "tag")

  test("distinctOn keeps exactly one row per key") {
    val out = df.distinctOn(Seq(col("k")), Seq(col("v").desc, col("tag").asc))
    assert(out.count() === 3)
    val rows = out.orderBy("k").collect()
    assert(rows.map(_.getString(2)).toSeq === Seq("x", "p", "only"))
  }

  test("distinctOn result rows come from their group") {
    val out = df.distinctOn(Seq(col("k")), Seq(col("v").asc, col("tag").asc))
      .collect()
    val byKey = df.collect().groupBy(_.getString(0))
    out.foreach { r =>
      assert(byKey(r.getString(0)).exists(g =>
        g.getInt(1) == r.getInt(1) && g.getString(2) == r.getString(2)))
    }
  }

  test("firstOrderedBy == sort-then-head per group") {
    val out = df.firstOrderedBy(
      Seq(col("k")), Seq(col("v"), col("tag")),
      Seq("top_v" -> col("v"), "top_tag" -> col("tag")))
      .orderBy("k").collect()
    // max (v, tag) per key: a->(3,x), b->(5,q), c->(7,only)
    assert(out.toSeq === Seq(
      Row("a", 3, "x"), Row("b", 5, "q"), Row("c", 7, "only")))
  }

  test("lastOrderedBy keeps the minimum-ordered row") {
    val out = df.lastOrderedBy(
      Seq(col("k")), Seq(col("v"), col("tag")),
      Seq("bot_v" -> col("v"), "bot_tag" -> col("tag")))
      .orderBy("k").collect()
    assert(out.toSeq === Seq(
      Row("a", 1, "y"), Row("b", 5, "p"), Row("c", 7, "only")))
  }

  test("countWhere / minWhere / sumWhere match filtered equivalents") {
    val got = df.agg(
      countWhere(col("v") > 2).as("c"),
      minWhere(col("k") === "a", col("v")).as("m"),
      sumWhere(col("v") % 2 === 1, col("v")).as("s")).head()
    assert(got.getLong(0) === 4) // 3,5,5,7
    assert(got.getInt(1) === 1)
    assert(got.getLong(2) === 21) // 3+1+5+5+7
  }

  test("null semantics: firstOrderedBy ignores null-ordered rows unless all null") {
    // max_by skips null ordering values — callers relying on
    // "null sorts first/last" (window semantics) must not use this form
    val d = Seq(("a", Some(1), "x"), ("a", None, "ynull"), ("b", None, "only"))
      .toDF("k", "v", "tag")
    val out = d.firstOrderedBy(Seq(col("k")), Seq(col("v")),
      Seq("tag" -> col("tag"))).orderBy("k").collect()
    assert(out(0).getString(1) === "x") // null-ordered row ignored
    assert(out(1).getString(1) === "only") // all-null group still yields a row
  }

  test("null semantics: distinctOn keeps null keys as their own group") {
    val d = Seq((Some("a"), 1), (None, 2), (None, 3)).toDF("k", "v")
    val out = d.distinctOn(Seq(col("k")), Seq(col("v").asc))
    assert(out.count() === 2) // "a" and the null group
    assert(out.filter(col("k").isNull).head().getInt(1) === 2)
  }

  test("ops on empty input yield empty output, not errors") {
    val e = spark.emptyDataFrame.select(lit("x").as("k"), lit(1).as("v"))
      .filter(lit(false))
    assert(e.distinctOn(Seq(col("k")), Seq(col("v"))).count() === 0)
    assert(e.firstOrderedBy(Seq(col("k")), Seq(col("v")),
      Seq("v" -> col("v"))).count() === 0)
  }

  test("dsum is exact over decimal-cast doubles") {
    val d = Seq(0.1, 0.2, 0.3, 0.4).toDF("x")
    assert(d.agg(dsum(col("x"))).head().getDouble(0) === 1.0)
  }

  test("arrayAggOrderedFilteredDesc sorts desc and drops filtered rows") {
    val out = df
      .groupBy(col("k"))
      .agg(arrayAggOrderedFilteredDesc(
        col("v") > 1, struct(col("v"), col("tag"))).as("arr"))
      .filter(col("k") === "a")
      .select(explode(col("arr")))
      .collect()
    assert(out.map(r => r.getStruct(0).getInt(0)).toSeq === Seq(3, 2))
  }

  test("upsert: delta replaces same-key rows, inserts new keys, keeps rest") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val delta = Seq((2L, "B2"), (9L, "new")).toDF("id", "v")
    val out = graft.ops.Ops.upsert(base, delta, Seq("id"))
      .as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "a", 2L -> "B2", 3L -> "c", 9L -> "new"))
    // empty delta is the identity
    val empty = Seq.empty[(Long, String)].toDF("id", "v")
    assert(graft.ops.Ops.upsert(base, empty, Seq("id")).count() === 3)
  }

  test("profile counts nulls and distincts per column in one pass") {
    val df = Seq(
      (Option(1), Option("a")),
      (Option(1), Option.empty[String]),
      (Option.empty[Int], Option("b"))
    ).toDF("x", "y")
    val out = graft.ops.Profiler.profile(df)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("x") === ((1L, 1L))) // one null, distinct {1}
    assert(out("y") === ((1L, 2L))) // one null, distinct {a, b}
    // single job: exactly one aggregation plan, no per-column actions
    assert(graft.ops.Profiler.profile(df).queryExecution.executedPlan
      .toString.contains("Expand"))
  }

  test("scd2Merge closes current versions and appends new ones") {
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2000-01-01 00:00:00")
    val t1 = Timestamp.valueOf("2020-06-01 00:00:00")
    val base = Seq(
      (1L, "a", t0, Option.empty[Timestamp]),          // current, updated
      (2L, "b", t0, Option.empty[Timestamp]),          // current, untouched
      (1L, "a0", Timestamp.valueOf("1990-01-01 00:00:00"), Some(t0)) // history
    ).toDF("id", "v", "valid_from", "valid_to")
    val delta = Seq((1L, "a1"), (3L, "new")).toDF("id", "v")
    val out = graft.ops.Ops.scd2Merge(base, delta, Seq("id"),
        "valid_from", "valid_to", lit(t1))
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getTimestamp(3)))).toSet
    assert(out === Set(
      (1L, "a", Some(t1)),      // closed at the effective ts
      (2L, "b", None),          // untouched current
      (1L, "a0", Some(t0)),     // history untouched
      (1L, "a1", None),         // new current version
      (3L, "new", None)))       // brand-new key
  }

  test("stringAggOrdered is deterministic") {
    val out = df.groupBy(col("k"))
      .agg(stringAggOrdered(col("tag"), ",").as("tags"))
      .orderBy("k").collect().map(_.getString(1))
    assert(out.toSeq === Seq("x,y,z", "p,q", "only"))
  }

  test("saltedJoin == direct join (inner and left), row for row") {
    val facts = Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "C"), (5L, "A"))
      .toDF("id", "k")
    val dim = Seq(("A", 10L), ("B", 20L)).toDF("k", "v")
    for (jt <- Seq("inner", "left")) {
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(col("id"), col("k"), col("v"))
          .collect()
          .map(r => (r.getLong(0), r.getString(1),
            if (r.isNullAt(2)) -1L else r.getLong(2)))
          .sorted.toSeq
      val direct = rows(facts.join(dim, Seq("k"), jt))
      val salted = rows(graft.ops.Ops.saltedJoin(facts, dim, Seq("k"), 7, jt))
      assert(salted === direct, jt)
    }
    // right/full would replicate unmatched dim rows per salt bucket
    for (bad <- Seq("right", "full", "full_outer")) {
      intercept[IllegalArgumentException](
        graft.ops.Ops.saltedJoin(facts, dim, Seq("k"), 7, bad))
    }
  }

  test("HLL sketch rollup: accurate per group, and the merged union of " +
      "group sketches equals a direct global sketch (lossless merge)") {
    val li = Tables.lineitem(spark, sf)
    val exact = li.select(countDistinct(col("l_orderkey"))).head().getLong(0)
    val perFlag = li.groupBy(col("l_returnflag"))
      .agg(hll_sketch_agg(col("l_orderkey"), 14).as("sk"))
    val merged = perFlag
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), true)))
      .head().getLong(0)
    val direct = li.agg(hll_sketch_estimate(
        hll_sketch_agg(col("l_orderkey"), 14)))
      .head().getLong(0)
    // union-of-group-sketches == sketch-of-all-rows: re-aggregation
    // never rescans the data and loses nothing at equal lgK
    assert(merged === direct)
    assert(math.abs(merged - exact).toDouble / exact < 0.05)
    // the query surface returns per-group rows plus the __ALL__ rollup
    val rows = graft.queries.Relational.a19HllRollup(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.contains("__ALL__") && rows("__ALL__") === merged)
  }

  test("distinctOn survives a user column literally named __rn") {
    val d = Seq(("a", 1, "keep"), ("a", 2, "best"), ("b", 9, "solo"))
      .toDF("k", "v", "__rn")
    val out = d.distinctOn(Seq(col("k")), Seq(col("v").desc))
    assert(out.columns.toSeq === Seq("k", "v", "__rn"))
    val rows = out.orderBy("k").collect()
    assert(rows.map(_.getString(2)).toSeq === Seq("best", "solo"))
  }

  test("fanOutForCompute spreads narrow scan-shaped plans to the session width") {
    val sess = spark
    val target = math.max(sess.sparkContext.defaultParallelism,
      sess.sessionState.conf.numShufflePartitions)
    // narrow shapes: local relation + select/filter/explode chain
    val narrow = Seq.tabulate(64)(i => (i.toLong, s"t$i x y")).toDF("id", "text")
      .filter(col("id") >= 0)
      .select(col("id"), explode(split(col("text"), " ")).as("tok"))
    val fanned = graft.ops.Ops.fanOutForCompute(narrow, col("id"))
    assert(fanned.rdd.getNumPartitions === target)
    // fanning out is idempotent: a repartitioned plan is "already wide"
    assert(graft.ops.Ops.fanOutForCompute(fanned, col("id")) eq fanned)
  }

  test("fanOutForCompute returns wide plans UNCHANGED (no .rdd probe under AQE)") {
    val base = Seq.tabulate(16)(i => (i.toLong % 4, i.toLong)).toDF("k", "v")
    // every shuffle-implying shape must come back `eq` — the guard must
    // not even probe .rdd (which under AQE executes upstream stages):
    // Deduplicate (the blacklist-era hole), Aggregate, Join, Limit,
    // Intersect, Sort, Window
    val shapes: Seq[org.apache.spark.sql.DataFrame] = Seq(
      base.dropDuplicates("k"),
      base.groupBy("k").count(),
      base.join(base.withColumnRenamed("v", "w"), Seq("k")),
      base.limit(3),
      base.intersect(base),
      base.orderBy("v"),
      base.select(col("k"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("k").orderBy("v")).as("rn")))
    shapes.foreach { w =>
      assert(graft.ops.Ops.fanOutForCompute(w, col("k")) eq w)
    }
  }

  test("fanOutForCompute returns a Filter on a scalar subquery UNCHANGED") {
    // one-slice Range and Filter are both whitelisted and narrower than
    // the session, so only the subquery's aggregate makes this wide
    val base = spark.range(0L, 16L, 1L, 1).toDF()
    val w = base.filter(col("id") > base.select(avg(col("id"))).scalar())
    assert(graft.ops.Ops.fanOutForCompute(w, col("id")) eq w)
  }

  test("fanOutForCompute still fans out a plain narrow parquet scan") {
    val dir = java.nio.file.Files.createTempDirectory("fanout").toString
    Seq.tabulate(64)(i => (i.toLong, s"t$i")).toDF("id", "text")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir).select(col("id"), col("text"))
    assert(scan.rdd.getNumPartitions === 1)
    val target = math.max(spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions)
    assert(graft.ops.Ops.fanOutForCompute(scan, col("id"))
      .rdd.getNumPartitions === target)
  }

  test("firstOrderedBy survives a user/payload column named __top") {
    val d = Seq(("a", 1, "lo"), ("a", 2, "hi"), ("b", 3, "x"))
      .toDF("k", "v", "__top")
    val out = d.firstOrderedBy(
      Seq(col("k")), Seq(col("v")),
      Seq("v" -> col("v"), "__top" -> col("__top")))
    assert(out.columns.toSeq === Seq("k", "v", "__top"))
    val rows = out.orderBy("k").collect()
    assert(rows.map(_.getString(2)).toSeq === Seq("hi", "x"))
  }

  test("iterate == the untruncated loop; only the last round's checkpoint " +
      "stays, and no logger level changes") {
    val logName = "org.apache.spark.rdd.MapPartitionsRDD"
    def level = org.apache.logging.log4j.LogManager.getLogger(logName).getLevel
    val levelBefore = level
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 2L))
      .toDF("src", "dst")
    val init = edges.select(col("src").as("node")).distinct()
      .withColumn("x", lit(1L))
    // a node's next value: the sum of its in-neighbours' values, plus
    // the round's maximum (the state is read twice per round)
    val step = (st: DataFrame) =>
      edges.join(st, col("src") === col("node"))
        .groupBy(col("dst").as("node")).agg(sum(col("x")).as("x"))
        .crossJoin(st.agg(max(col("x")).as("mx")))
        .select(col("node"), (col("x") + col("mx")).as("x"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = Ops.iterate(init, 4)(step)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    val last = got.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.id
      case p => fail(s"iterate must return a checkpoint, got ${p.nodeName}")
    }
    assert(added === Set(last))
    val want = (1 to 4).foldLeft(init)((st, _) => step(st))
    assert(got.orderBy("node").collect() === want.orderBy("node").collect())
    assert(level === levelBefore)
  }
}
