package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.AsOfJoin
import graft.plans.AsOfDir

/** Streaming face of the as-of join: arriving left rows (an event
  * stream) are enriched per micro-batch with the nearest-in-time row
  * of a STATIC right table (reference/version data) through the
  * custom physical operator (`graft.plans.AsOfJoinExec`).
  *
  * Why this is exactly batch==stream: the right side is static and a
  * left row's match depends only on that row's (key, ts) — no
  * cross-row state — so the result is independent of micro-batch
  * boundaries, arrival order, and trigger count. StreamingSpec
  * asserts set equality with the batch operator over an arbitrary
  * trigger split.
  *
  * Scale shape: the per-batch cost must be O(batch), not O(right).
  * That is precisely what the exec's DECLARED distribution buys:
  * pre-partition the static side by the key ONCE
  * ([[prepareStaticSide]]) and every micro-batch's plan inserts an
  * exchange only on the (small) arriving batch — the persisted
  * right's `HashPartitioning` already satisfies the operator's
  * `ClusteredDistribution`, so the 100 TB side is never reshuffled
  * (AsOfExecSpec/StreamingSpec assert the single-exchange plan).
  */
object StreamingAsOf {

  /** Hash-partition and persist the static right side once, so every
    * micro-batch join reuses its layout (zero exchange on this side).
    * `numPartitions` pins the layout; arriving batches are shuffled
    * TO it.
    */
  def prepareStaticSide(
      right: DataFrame, keyCol: String, numPartitions: Int): DataFrame = {
    val r = right.repartition(numPartitions, col(keyCol)).persist()
    r.count() // materialize: the layout is paid here, once
    r
  }

  /** Start the enrichment stream: each arriving micro-batch as-of
    * joins the static right and lands in `outDir/rows`, partitioned
    * by `batch_id`.
    *
    * Exactly-once OUTPUT from an at-least-once contract: foreachBatch
    * may REPLAY a batch (failure after the write but before the
    * checkpoint commit), so a blind `mode("append")` would silently
    * duplicate the replayed rows. The write is instead idempotent per
    * batchId — rows carry a `batch_id` partition column and the write
    * runs in dynamic partition-overwrite mode, so a replayed batch
    * OVERWRITES its own partition with identical content (the join is
    * deterministic: static right, per-row match) and every other
    * batch's partition is untouched. StreamingAsOfSpec replays a
    * batch through [[writeBatch]] and asserts zero duplicates.
    */
  def streamingAsOfEnrich(
      spark: SparkSession,
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTsCol: String,
      rightTsCol: String,
      outDir: String,
      dir: AsOfDir = AsOfDir.Backward): StreamingQuery = {
    requirePartitionedLayout(spark, s"$outDir/rows")
    left.writeStream
      .option("checkpointLocation", s"$outDir/_chk")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(
          joinBatch(batch, right, keyCol, leftTsCol, rightTsCol, dir),
          batchId, outDir)
      }
      .start()
  }

  /** Fail fast when `rowsDir` holds files from the pre-`batch_id`
    * FLAT layout (data files directly under the root rather than in
    * `batch_id=N/` partition directories). Resuming into such a
    * directory would confuse partition discovery: Spark either errors
    * on the mixed layout or silently reads a different schema. The
    * layout change is breaking BY DESIGN — the idempotent replay
    * contract needs the partition column — so old sinks must be
    * migrated (or pointed at a fresh directory), never mixed.
    */
  def requirePartitionedLayout(spark: SparkSession, rowsDir: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(rowsDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) {
      val flat = fs.listStatus(path).filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      require(
        flat.isEmpty,
        s"$rowsDir holds ${flat.length} data file(s) in the pre-batch_id flat " +
          "layout (e.g. " + flat.take(3).map(_.getPath.getName).mkString(", ") +
          "); the sink now writes batch_id=N/ partition directories. " +
          "Migrate the old files or point the stream at a fresh outDir.")
    }
  }

  /** The idempotent per-batch sink — exposed so the spec can replay a
    * batchId and assert the overwrite-not-append contract. Dynamic
    * partition-overwrite touches ONLY the partitions present in the
    * incoming data, i.e. exactly `batch_id=<batchId>`.
    */
  def writeBatch(joined: DataFrame, batchId: Long, outDir: String): Unit =
    joined.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(s"$outDir/rows")

  /** The per-batch join — exposed so the spec can assert the
    * single-exchange plan shape on a representative batch.
    */
  def joinBatch(
      batch: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTsCol: String,
      rightTsCol: String,
      dir: AsOfDir): DataFrame =
    AsOfJoin.asofJoin(batch, right, Seq(keyCol), leftTsCol, rightTsCol, dir)
}
