package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.ops.AsOfJoin
import graft.plans.AsOfDir

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)

  private def join(l: DataFrame, r: DataFrame, dir: AsOfDir,
      tiebreak: Seq[String] = Nil): DataFrame =
    AsOfJoin.asofJoin(l, r, Seq("user"), "ts", "ts", dir, tiebreak)

  /** The first hand-computed fixture and its backward answer. */
  private def backwardFixture = {
    val left = Seq(
      (1L, "u1", ts(0)),   // before any quote -> null
      (2L, "u1", ts(5)),   // quote@5 applies (equal ts matches)
      (3L, "u1", ts(7)),   // still quote@5
      (4L, "u1", ts(12)),  // quote@10
      (5L, "u2", ts(6))    // u2 quote@2
    ).toDF("event_id", "user", "ts")
    val right = Seq(
      ("u1", ts(5), 100.0),
      ("u1", ts(10), 200.0),
      ("u2", ts(2), 50.0),
      ("u3", ts(0), 9.0)   // key with no left rows
    ).toDF("user", "ts", "quote")
    val want = Seq(
      (1L, null), (2L, 100.0), (3L, 100.0), (4L, 200.0), (5L, 50.0))
    (left, right, want)
  }

  test("backward as-of: latest right at-or-before; null before first right") {
    val (left, right, want) = backwardFixture
    val out = join(left, right, AsOfDir.Backward)
      .orderBy("event_id").collect()
    assert(out.map(r => (r.getLong(0), if (r.isNullAt(3)) null else r.getDouble(3)))
      .toSeq === want)
    // schema: left columns then payload
    assert(out.head.schema.fieldNames.toSeq ===
      Seq("event_id", "user", "ts", "quote"))
  }

  test("the plain-Scala reference reproduces the hand-computed backward fixture") {
    // the specs compare the operator against AsOfReference; this pins
    // the reference itself to an answer computed by hand
    val (left, right, want) = backwardFixture
    val got = AsOfReference.join(left, right, Seq("user"), "ts", "ts",
      AsOfDir.Backward)
    assert(got.map(r => (r(0), r(3))).sortBy(_._1.asInstanceOf[Long]) === want)
    assert(got.forall(_.length == 4))
  }

  test("multiple right rows at the same ts: tiebreak pins the winner") {
    val left = Seq((1L, "u", ts(5))).toDF("id", "user", "ts")
    val right = Seq(("u", ts(5), 1.0), ("u", ts(5), 9.0))
      .toDF("user", "ts", "v")
    val out = join(left, right, AsOfDir.Backward, tiebreak = Seq("v"))
    assert(out.head().getDouble(3) === 9.0) // last in (ts, v) order
  }

  test("null keys never match (SQL equi-join semantics)") {
    val left = Seq(
      (1L, Option("u"), ts(5)),
      (2L, Option.empty[String], ts(5)), // null key -> null payload
      (3L, Option.empty[String], ts(9))
    ).toDF("id", "user", "ts")
    val right = Seq(
      (Option("u"), ts(1), 7.0),
      (Option.empty[String], ts(1), 666.0) // null-keyed right: never carried
    ).toDF("user", "ts", "v")
    val out = join(left, right, AsOfDir.Backward).orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), if (r.isNullAt(3)) null else r.getDouble(3)))
      .toSeq === Seq((1L, 7.0), (2L, null), (3L, null)))
  }

  test("empty right side leaves all payloads null") {
    val left = Seq((1L, "u", ts(1))).toDF("id", "user", "ts")
    val right = Seq.empty[(String, Timestamp, Double)].toDF("user", "ts", "v")
    val out = join(left, right, AsOfDir.Backward)
    assert(out.count() === 1)
    assert(out.head().isNullAt(3))
  }

  test("forward as-of: earliest right at-or-after; null after last right") {
    val left = Seq(
      (1L, "u1", ts(0)),   // -> quote@5
      (2L, "u1", ts(5)),   // equal ts matches forward too -> quote@5
      (3L, "u1", ts(7)),   // -> quote@10
      (4L, "u1", ts(12)),  // after last right -> null
      (5L, "u2", ts(1))    // -> u2 quote@2
    ).toDF("event_id", "user", "ts")
    val right = Seq(
      ("u1", ts(5), 100.0),
      ("u1", ts(10), 200.0),
      ("u2", ts(2), 50.0)
    ).toDF("user", "ts", "quote")

    val out = join(left, right, AsOfDir.Forward).orderBy("event_id").collect()
    assert(out.map(r => (r.getLong(0), if (r.isNullAt(3)) null else r.getDouble(3)))
      .toSeq === Seq(
      (1L, 100.0), (2L, 100.0), (3L, 200.0), (4L, null), (5L, 50.0)))
  }

  test("nearest as-of: closer of the two sides wins, ties go backward") {
    val left = Seq(
      (1L, "u1", ts(0)),   // only forward exists -> quote@5
      (2L, "u1", ts(6)),   // dist 1 back vs 4 fwd -> quote@5
      (3L, "u1", ts(8)),   // dist 3 back vs 2 fwd -> quote@10
      (4L, "u1", ts(15)),  // TIE (5 back, 5 fwd... none fwd) -> quote@10
      (5L, "u2", ts(9))    // no rights for u2 -> null
    ).toDF("event_id", "user", "ts")
    val right = Seq(
      ("u1", ts(5), 100.0),
      ("u1", ts(10), 200.0)
    ).toDF("user", "ts", "quote")

    val out = join(left, right, AsOfDir.Nearest).orderBy("event_id").collect()
    assert(out.map(r => (r.getLong(0), if (r.isNullAt(3)) null else r.getDouble(3)))
      .toSeq === Seq(
      (1L, 100.0), (2L, 100.0), (3L, 200.0), (4L, 200.0), (5L, null)))
    assert(out.head.schema.fieldNames.toSeq ===
      Seq("event_id", "user", "ts", "quote"))
  }

  test("nearest as-of: exact tie prefers the backward match") {
    val left = Seq((1L, "u", ts(7))).toDF("id", "user", "ts") // 2 back, 2 fwd
    val right = Seq(("u", ts(5), 1.0), ("u", ts(9), 2.0))
      .toDF("user", "ts", "v")
    val out = join(left, right, AsOfDir.Nearest)
    assert(out.head().getDouble(3) === 1.0)
  }

  test("null timestamps never match in any direction (no NPE in nearest)") {
    val left = Seq(
      (1L, "u", Option(ts(5))),
      (2L, "u", Option.empty[Timestamp]) // null ts -> null payload
    ).toDF("id", "user", "ts")
    val right = Seq(
      ("u", Option(ts(3)), 7.0),
      ("u", Option.empty[Timestamp], 666.0) // null-ts right: dropped
    ).toDF("user", "ts", "v")
    def payloads(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(3)) null else r.getDouble(3))).toSeq
    assert(payloads(join(left, right, AsOfDir.Backward))
      === Seq((1L, 7.0), (2L, null)))
    assert(payloads(join(left, right, AsOfDir.Forward))
      === Seq((1L, null), (2L, null))) // no right at-or-after ts(5)
    assert(payloads(join(left, right, AsOfDir.Nearest))
      === Seq((1L, 7.0), (2L, null)))
  }

  test("forward tiebreak picks the FIRST right in (ts, tiebreak) order") {
    val left = Seq((1L, "u", ts(3))).toDF("id", "user", "ts")
    val right = Seq(("u", ts(5), 1.0), ("u", ts(5), 9.0))
      .toDF("user", "ts", "v")
    val fwd = join(left, right, AsOfDir.Forward, tiebreak = Seq("v"))
    assert(fwd.head().getDouble(3) === 1.0) // first in (ts, v) order
    // and nearest's forward candidate agrees
    val near = join(left, right, AsOfDir.Nearest, tiebreak = Seq("v"))
    assert(near.head().getDouble(3) === 1.0)
  }

  test("nearest as-of agrees with composing backward+forward by distance") {
    // randomized-ish (deterministic seed) cross-check on a bigger surface
    val rnd = new scala.util.Random(7)
    val lefts = (1 to 300).map { i =>
      (i.toLong, s"u${rnd.nextInt(5)}", ts(rnd.nextInt(240)))
    }
    val rights = (1 to 60).map { _ =>
      (s"u${rnd.nextInt(6)}", ts(rnd.nextInt(240)), rnd.nextInt(1000).toDouble)
    }.distinct
      .groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq // dedup (key,ts)
    val left = lefts.toDF("id", "user", "ts")
    val right = rights.toDF("user", "ts", "v")

    val near = join(left, right, AsOfDir.Nearest)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) null else r.getDouble(3))).toMap

    val back = join(left, right, AsOfDir.Backward)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) null else (r.getDouble(3), r.getTimestamp(2)))).toMap
    val fwd = join(left, right, AsOfDir.Forward)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) null else (r.getDouble(3), r.getTimestamp(2)))).toMap

    val rightTs = rights.groupBy(_._1).view
      .mapValues(_.map(r => (r._2.getTime, r._3)).sortBy(_._1)).toMap
    lefts.foreach { case (id, u, lts) =>
      val expected = rightTs.get(u) match {
        case None => null
        case Some(quotes) =>
          val backC = quotes.filter(_._1 <= lts.getTime).lastOption
          val fwdC = quotes.find(_._1 >= lts.getTime)
          (backC, fwdC) match {
            case (None, None) => null
            case (Some(b), None) => b._2
            case (None, Some(f)) => f._2
            case (Some(b), Some(f)) =>
              if (lts.getTime - b._1 <= f._1 - lts.getTime) b._2 else f._2
          }
      }
      assert(near(id) === expected,
        s"id=$id u=$u lts=$lts near=${near(id)} back=${back.get(id)} fwd=${fwd.get(id)}")
    }
  }

  test("chunked variants == plain operator on 90%-one-key skew; hot key " +
      "spans tasks") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    // 90% of rows on key "H", timelines interleaved; distinct left ids
    def key(i: Int) = if (i % 10 == 0) s"c${i % 3}" else "H"
    val lefts = (0 until 3000).map(i =>
      (i.toLong, key(i), new Timestamp(1700000000000L + rnd.nextInt(1000000) * 1000L)))
      .toDF("id", "k", "lts")
    val rights = (0 until 600).map(i =>
      (key(i), new Timestamp(1700000000000L + rnd.nextInt(1000000) * 1000L),
        s"v$i")).toDF("k", "rts", "payload")

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "payload").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1).toSeq

    def plain(d: AsOfDir) =
      AsOfJoin.asofJoin(lefts, rights, Seq("k"), "lts", "rts", d)
    def chunked(d: AsOfDir) = AsOfJoin.asofJoinChunked(
      lefts, rights, "k", "lts", "rts", d, numBuckets = 8)

    val plainB = plain(AsOfDir.Backward)
    val chunkB = chunked(AsOfDir.Backward)
    assert(canon(chunkB) === canon(plainB))
    assert(canon(plainB).count(_._2.nonEmpty) > 2000) // matches actually happen

    assert(canon(chunked(AsOfDir.Forward)) === canon(plain(AsOfDir.Forward)))

    // the skew claim itself: with range bucketing, hot-key left rows
    // execute in >1 task (the plain operator pins them to exactly 1)
    def hotTasks(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("k") === "H")
      .select(spark_partition_id().as("p")).distinct().count()
    assert(hotTasks(chunkB) > 1, "chunked: hot key should span multiple tasks")
    assert(hotTasks(plainB) === 1)
  }

  test("chunked nearest matches plain nearest row-for-row on skewed data") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    def key(i: Int) = if (i % 10 == 0) s"c${i % 3}" else "H"
    val lefts = (0 until 2000).map(i =>
      (i.toLong, key(i), new Timestamp(1700000000000L + rnd.nextInt(800000) * 1000L)))
      .toDF("id", "k", "lts")
    val rights = (0 until 400).map(i =>
      (key(i), new Timestamp(1700000000000L + rnd.nextInt(800000) * 1000L),
        s"v$i")).toDF("k", "rts", "payload")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "payload").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1).toSeq
    val plain = AsOfJoin.asofJoin(lefts, rights, Seq("k"), "lts", "rts",
      AsOfDir.Nearest)
    val chunk = AsOfJoin.asofJoinChunked(
      lefts, rights, "k", "lts", "rts", AsOfDir.Nearest, numBuckets = 8)
    assert(canon(chunk) === canon(plain))
    // forward-only coverage: a left in the LAST bucket with its only
    // match far in the past, and a left in the FIRST bucket whose only
    // match is far in the future
    val l2 = Seq((1L, "Z", new Timestamp(1700000000000L)),
      (2L, "Z", new Timestamp(1700000790000000L / 1000L)))
      .toDF("id", "k", "lts")
    val r2 = Seq(("Z", new Timestamp(1700000400000000L / 1000L), "mid"))
      .toDF("k", "rts", "payload")
    val got = canon(AsOfJoin.asofJoinChunked(
      l2, r2, "k", "lts", "rts", AsOfDir.Nearest, numBuckets = 8))
    assert(got === Seq((1L, Some("mid")), (2L, Some("mid"))))
  }

  test("chunked carry crosses empty buckets (right in bucket 0 only)") {
    val lefts = (1 to 100).map(i =>
      (i.toLong, "H", new Timestamp(1700000000000L + i * 10000000L)))
      .toDF("id", "k", "lts")
    // single right at the very start: every later bucket relies on carry
    val rights = Seq(("H", new Timestamp(1700000000000L), "first"))
      .toDF("k", "rts", "payload")
    val out = AsOfJoin.asofJoinChunked(
      lefts, rights, "k", "lts", "rts", AsOfDir.Backward, numBuckets = 8)
    assert(out.count() === 100)
    assert(out.filter(org.apache.spark.sql.functions.col("payload") === "first")
      .count() === 100)
  }
}
