package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the deterministic test star schema (TESTDATA.md).
  *
  * Mirrors the reference's registry-driven table access
  * (`load_dataset.py:92-112` resolves dataset -> tables); here the
  * "registry" is the fixed parquet layout `<sfDir>/<table>.parquet`.
  *
  * Scale note: these are plain parquet scans — Catalyst pushes filters
  * and prunes columns into the scan, so every query built on top of
  * them starts from a pruned columnar read (verified via
  * `.explain("formatted")`: PushedFilters / ReadSchema).
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.ts` has shipped as both INT64 TIMESTAMP(NANOS) — which
    * Spark's reader rejects ([PARQUET_TYPE_ILLEGAL]) — and plain
    * TIMESTAMP(MICROS). Handle both: read nanos as long
    * (`spark.sql.legacy.parquet.nanosAsLong`) and truncate to
    * microsecond timestamps (the same ns->us truncation DuckDB
    * applies); cast native micro timestamps (TIMESTAMP_NTZ) to the
    * session-zone TIMESTAMP the nanos path always produced — every
    * entry point pins `spark.sql.session.timeZone=UTC`, so both
    * layouts yield the same instants downstream.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
