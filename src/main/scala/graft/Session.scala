package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession setup the mains and the test suite share. It
  * installs no extensions: each query registers the ones it uses.
  */
object Session {

  /** Local core count for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]`, one shuffle partition per core, AQE on, UTC session
    * time zone, no UI, log level WARN.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
