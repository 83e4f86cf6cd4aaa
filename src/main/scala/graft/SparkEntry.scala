package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every implemented operator's named query + DuckDB oracle
  * from the per-module registries under `graft.queries`.
  */
object SparkEntry {

  /** Flagship query (wow_2021 bldgs shape, SURVEY §7.2) on sf=0.001;
    * driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Flagship.bldgs(spark, "/root/testdata/sf0.001")

  /** Every query module, listed once; each query name belongs to exactly
    * one of them.
    */
  val modules: Seq[QueryModule] = Seq(
    Flagship, Relational, Extensions, Analytics, Advanced, Mining, Mining2,
    Mining3, Eval, Stats, Causal, Behavior, Diverge, Trend, Series, Signals,
    Growth, Steward, Warp, Journey, Pref, Season, Geo, Shape, Robust, Fit,
    Panel, Exp, Audit, Guard, Seg, Meta, Strat, Uplift, Curate, Select,
    Clean)

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_.queries).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check.
    */
  val oracleSql: Map[String, String] = modules.map(_.oracles).reduce(_ ++ _)
}
