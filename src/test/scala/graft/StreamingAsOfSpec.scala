package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ops.AsOfJoin
import graft.plans.AsOfDir
import graft.streaming.StreamingAsOf

/** Streaming as-of enrichment (stream-static through the custom
  * physical operator): batch==stream over arbitrary trigger splits,
  * and the per-batch plan shuffles ONLY the arriving batch — the
  * pre-partitioned static side is reused (single-exchange plan).
  */
class StreamingAsOfSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)

  private def sides() = {
    import graft.ops.Ops._
    val ev = Tables.events(spark, sf)
    val left = ev.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"))
    val right = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("value").as("signup_value"))
      .distinctOn(Seq(col("user_id"), col("ts")),
        Seq(col("signup_value").desc))
    (left, right)
  }

  test("stream-static as-of: arbitrary trigger split equals the batch " +
      "operator row-for-row") {
    implicit val sqlCtx = spark.sqlContext
    val (left, right) = sides()
    val prepared = StreamingAsOf.prepareStaticSide(right, "user_id", 4)
    val out = java.nio.file.Files
      .createTempDirectory("asof-stream").toString
    val feed = left.collect().map(r =>
      (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
    val mem = MemoryStream[(Long, Timestamp, Long, String)]
    val q = StreamingAsOf.streamingAsOfEnrich(
      spark, mem.toDS().toDF("event_id", "ts", "user_id", "event_type"),
      prepared, "user_id", "ts", "ts", out, AsOfDir.Backward)
    try {
      // adversarial split: NOT time-ordered — interleaved halves, so a
      // left row's match often lives "in the future" of its trigger
      val (a, b) = feed.zipWithIndex.partition(_._2 % 2 == 0)
      mem.addData(a.map(_._1).toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(b.map(_._1).toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val streamed = canon(spark.read.parquet(s"$out/rows").drop("batch_id"))
    val batch = canon(AsOfJoin.asofJoin(
      left, right, Seq("user_id"), "ts", "ts", AsOfDir.Backward))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    prepared.unpersist()
  }

  test("per-batch plan shuffles only the arriving batch: single " +
      "ENSURE_REQUIREMENTS exchange, persisted right reused") {
    val (left, right) = sides()
    val prepared = StreamingAsOf.prepareStaticSide(right, "user_id", 4)
    try {
      // a representative micro-batch: a pushed-down filter, no extra
      // exchange of its own (limit() would plant a SinglePartition one)
      val batch = left.filter(pmod(col("event_id"), lit(50)) === 0)
      val joined = StreamingAsOf.joinBatch(
        batch, prepared, "user_id", "ts", "ts", AsOfDir.Backward)
      joined.collect()
      // count exchanges in the final plan ABOVE the cached relation —
      // the InMemoryRelation string embeds its own historical build
      // plan (incl. the exchanges paid ONCE at prepare time)
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
        .split("InMemoryRelation").head
      assert(plan.contains("AsOfJoin"), plan)
      assert("ENSURE_REQUIREMENTS".r.findAllIn(plan).size === 1,
        s"static side must not reshuffle per batch:\n$plan")
      assert(plan.contains("InMemoryTableScan"), plan)
    } finally prepared.unpersist()
  }

  test("nearest direction streams identically (per-row independence)") {
    implicit val sqlCtx = spark.sqlContext
    val (left0, right) = sides()
    val left = left0.limit(500)
    val prepared = StreamingAsOf.prepareStaticSide(right, "user_id", 4)
    val out = java.nio.file.Files
      .createTempDirectory("asof-stream-nearest").toString
    val feed = left.collect().map(r =>
      (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
    val mem = MemoryStream[(Long, Timestamp, Long, String)]
    val q = StreamingAsOf.streamingAsOfEnrich(
      spark, mem.toDS().toDF("event_id", "ts", "user_id", "event_type"),
      prepared, "user_id", "ts", "ts", out, AsOfDir.Nearest)
    try {
      val (a, b) = feed.splitAt(feed.length / 3)
      mem.addData(a.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(b.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(canon(spark.read.parquet(s"$out/rows").drop("batch_id")) ===
      canon(AsOfJoin.asofJoin(left, right, Seq("user_id"), "ts", "ts",
        AsOfDir.Nearest)))
    prepared.unpersist()
  }

  test("checkpoint RESTART: the enrich stream killed between triggers " +
      "resumes from its checkpoint — every event enriched exactly " +
      "once, final table equals the batch operator") {
    val (left0, right) = sides()
    // deterministic subset: an unordered limit() can pick DIFFERENT
    // rows when re-evaluated for the batch-dual comparison
    val left = left0.filter(pmod(col("event_id"), lit(5)) === 0)
    val prepared = StreamingAsOf.prepareStaticSide(right, "user_id", 4)
    val srcDir = java.nio.file.Files
      .createTempDirectory("asof-restart-src").toString
    val out = java.nio.file.Files
      .createTempDirectory("asof-restart-out").toString
    val feed = left.collect().map(r =>
      (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
    val schema = feed.take(1).toSeq
      .toDF("event_id", "ts", "user_id", "event_type").schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(srcDir)
      val q = StreamingAsOf.streamingAsOfEnrich(
        spark, stream, prepared, "user_id", "ts", "ts", out,
        AsOfDir.Backward)
      try q.processAllAvailable() finally q.stop()
    }
    try {
      val half = feed.length / 2
      feed.take(half).toSeq
        .toDF("event_id", "ts", "user_id", "event_type")
        .write.mode("append").parquet(srcDir)
      run()
      feed.drop(half).toSeq
        .toDF("event_id", "ts", "user_id", "event_type")
        .write.mode("append").parquet(srcDir)
      run()
      val rows = spark.read.parquet(s"$out/rows").drop("batch_id")
      val ids = rows.select("event_id").collect().map(_.getLong(0))
      assert(ids.length === ids.distinct.length, "event duplicated")
      def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      assert(canon(rows) === canon(AsOfJoin.asofJoin(
        left, right, Seq("user_id"), "ts", "ts", AsOfDir.Backward)))
      assert(ids.nonEmpty)
    } finally prepared.unpersist()
  }

  test("replayed batch is idempotent: re-running a batchId overwrites " +
      "its own partition, zero duplicates, other batches untouched") {
    val (left, right) = sides()
    val prepared = StreamingAsOf.prepareStaticSide(right, "user_id", 4)
    val out = java.nio.file.Files
      .createTempDirectory("asof-stream-replay").toString
    try {
      val b0 = left.filter(pmod(col("event_id"), lit(2)) === 0)
      val b1 = left.filter(pmod(col("event_id"), lit(2)) === 1)
      def j(b: org.apache.spark.sql.DataFrame) = StreamingAsOf.joinBatch(
        b, prepared, "user_id", "ts", "ts", AsOfDir.Backward)
      StreamingAsOf.writeBatch(j(b0), 0L, out)
      StreamingAsOf.writeBatch(j(b1), 1L, out)
      val before = spark.read.parquet(s"$out/rows")
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
      // the at-least-once failure mode: batch 1's write succeeded but
      // the checkpoint commit didn't — restart re-delivers batch 1
      StreamingAsOf.writeBatch(j(b1), 1L, out)
      val after = spark.read.parquet(s"$out/rows")
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
      assert(after === before, "replay must not duplicate rows")
      assert(after.length === left.count(), "both batches present once")
    } finally prepared.unpersist()
  }

  test("fail fast on a pre-batch_id flat sink layout: data files " +
      "directly under rows/ refuse the stream start") {
    implicit val sqlCtx = spark.sqlContext
    val (left, right) = sides()
    val out = java.nio.file.Files
      .createTempDirectory("asof-stream-flat").toString
    // simulate the OLD layout: un-partitioned parquet under rows/
    left.limit(10).write.parquet(s"$out/rows")
    val mem = MemoryStream[(Long, Timestamp, Long, String)]
    val ex = intercept[IllegalArgumentException] {
      StreamingAsOf.streamingAsOfEnrich(
        spark, mem.toDS().toDF("event_id", "ts", "user_id", "event_type"),
        right, "user_id", "ts", "ts", out, AsOfDir.Backward)
    }
    assert(ex.getMessage.contains("flat"), ex.getMessage)
    // a CORRECT partitioned sink (or an empty dir) passes the guard
    val out2 = java.nio.file.Files
      .createTempDirectory("asof-stream-part").toString
    StreamingAsOf.writeBatch(StreamingAsOf.joinBatch(
      left.limit(10), right, "user_id", "ts", "ts", AsOfDir.Backward),
      0L, out2)
    StreamingAsOf.requirePartitionedLayout(spark, s"$out2/rows")
    StreamingAsOf.requirePartitionedLayout(spark, s"$out2/rows_absent")
  }
}
