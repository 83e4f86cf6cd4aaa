package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One family of named queries, as listed once in
  * [[graft.SparkEntry.modules]].
  */
trait QueryModule {

  /** Query name -> (session, data dir) => result. */
  def queries: Map[String, (SparkSession, String) => DataFrame]

  /** Query name -> equivalent DuckDB SQL over the same parquet tables,
    * for the queries the oracle gate checks.
    */
  def oracles: Map[String, String]
}
