package graft.datasets

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ingest.SourceSpec

/** A declarative dataset: sources in, tables out, optional derived
  * pipelines — the reference's registry entry shape
  * (`load_dataset.py:92-112`: each dataset has `schema` table defs,
  * `files` URLs, and optional `sql` derived scripts).
  *
  * `derived` maps a table name to a function of the already-loaded base
  * tables (the reference's CTAS scripts, e.g. `wow_2021_create_bldgs
  * _table.sql`, re-expressed as DataFrame pipelines).
  */
final case class DatasetSpec(
    name: String,
    urls: Seq[String],
    sources: Seq[SourceSpec],
    derived: Map[String, (SparkSession, Map[String, DataFrame]) => DataFrame] =
      Map.empty,
    schedule: String = Scheduling.Yearly,
    udfs: Map[String, SparkSession => Unit] = Map.empty) {

  /** All tables this dataset publishes (base + derived) —
    * `get_dataset_tables` (`load_dataset.py:92-112`).
    */
  def tableNames: Seq[String] = sources.map(_.name) ++ derived.keys.toSeq
}

/** Per-dataset cron cadence as data — `scheduling.py:6-42` (enum of cron
  * strings) + `:63-100` (dataset -> schedule map). The engine keeps
  * schedules declarative; an external trigger (cron/Airflow/k8s) invokes
  * the batch job, exactly like the reference's CronJob fan-out
  * (`k8s_build_jobs.py:41-76`).
  */
object Scheduling {
  val Daily10pm = "0 22 * * *"
  val Daily11pm = "0 23 * * *"
  val Daily7am = "0 7 * * *"
  val Daily8am = "0 8 * * *"
  val EvenDays = "0 1 2-30/2 * *"
  val OddDays = "0 1 1-29/2 * *"
  val Yearly = "0 0 1 1 *"
}
