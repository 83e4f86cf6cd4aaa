package graft

import graft.catalog.Warehouse
import graft.datasets.Registry
import graft.runner.{ConsoleNotifier, DbTool, JobRunner}
import graft.state.{FileStateStore, JavaHttpClient}

/** CLI entry point — the reference's `load_dataset.py <dataset>` /
  * `dbtool.py` surface (SURVEY §3.1, §3.3):
  *
  *   LoadDataset <dataset|all> [--sf-dir D] [--warehouse W] [--force]
  *   LoadDataset rowcounts|lastmod:list|lastmod:reset [--warehouse W]
  *   LoadDataset snapshots|vacuum [retainN] [--warehouse W]
  *
  * One process per dataset is the reference's parallelism model
  * (`k8s_build_jobs.py:63-75`); here each invocation is one Spark batch
  * job over the shared warehouse.
  */
object LoadDataset {
  def main(args: Array[String]): Unit = {
    val valueFlags = Set("--sf-dir", "--warehouse")
    val flags = args.filter(_.startsWith("--")).toSeq
    // positional args exclude flags AND their values
    val pos = args.indices
      .filter(i => !args(i).startsWith("--") &&
        !(i > 0 && valueFlags.contains(args(i - 1))))
      .map(args).toSeq
    def flagVal(name: String): Option[String] = {
      val i = args.indexOf(name)
      if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
    }
    val sfDir = flagVal("--sf-dir").getOrElse("/root/testdata/sf0.001")
    val whDir = flagVal("--warehouse").getOrElse("/tmp/graft-warehouse")
    val force = flags.contains("--force")
    val cmd = pos.headOption.getOrElse {
      System.err.println("usage: LoadDataset <dataset|all|rowcounts|lastmod:list|lastmod:reset|snapshots|vacuum>")
      sys.exit(2)
    }

    val spark = Session.local(Session.cpus)

    val wh = new Warehouse(whDir)
    val store = new FileStateStore(
      java.nio.file.Paths.get(whDir).resolve("state.json"))
    val notifier = new ConsoleNotifier
    val runner = new JobRunner(spark, wh, store, new JavaHttpClient, notifier)
    val tool = new DbTool(spark, wh, store)

    try cmd match {
      case "rowcounts" => tool.rowcounts()
      case "lastmod:list" => tool.listLastmod()
      case "lastmod:reset" => tool.resetLastmod(pos.drop(1).headOption.getOrElse(""))
      case "snapshots" => tool.listSnapshots()
      case "vacuum" =>
        val retain = pos.drop(1).headOption.map(a => a.toIntOption.getOrElse {
          System.err.println(s"vacuum: retain count must be an integer, got $a")
          sys.exit(2)
        }).getOrElse(0)
        tool.vacuum(retain)
      case "all" =>
        Registry.datasets(sfDir).foreach(runner.run(_, force))
      case name =>
        Registry.byName(sfDir, name) match {
          case Some(ds) => runner.run(ds, force)
          case None =>
            System.err.println(s"unknown dataset: $name; known: " +
              Registry.datasets(sfDir).map(_.name).mkString(", "))
            sys.exit(1)
        }
    } finally spark.stop()
  }
}
