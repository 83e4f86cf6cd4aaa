package graft.datasets

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Renders one runnable scheduled-job spec per registry dataset — the
  * reference's CronJob fan-out (`k8s_build_jobs.py:41-76`: template +
  * per-dataset name/schedule/command/env, one YAML per dataset,
  * `load_dataset_<ds>.yml`).
  *
  * Spark-first shape: the container command is a `spark-submit` of the
  * [[graft.LoadDataset]] batch entry point with the dataset name — one
  * process per dataset, the reference's parallelism model. Rendering
  * is deterministic (callers inject the env lookup), so specs are
  * golden-testable and reproducible across machines.
  */
object JobSpecs {

  /** `k8s_build_jobs.py:38-39`. */
  def slugify(name: String): String = name.replace("_", "-")

  /** One CronJob spec for one dataset. Settings resolve at render
    * time like the reference's `get_env` (`k8s_build_jobs.py:33-34`,
    * CONTAINER_ENV_VARS), each into the form its reader takes:
    * `SPARK_DRIVER_MEM` into spark-submit's `--driver-memory`,
    * `GRAFT_WAREHOUSE_DIR` and `GRAFT_SF_DIR` into LoadDataset's
    * `--warehouse` and `--sf-dir`, and `SPARK_GRAFT_CPUS` into the
    * container env that [[graft.Session.cpus]] reads. An unset
    * setting is left out, so its reader keeps its default.
    */
  def render(
      ds: DatasetSpec,
      image: String,
      env: String => Option[String]): String = {
    val name = s"load-dataset-${slugify(ds.name)}"
    def arg(flag: String, v: String) = env(v).toSeq.flatMap(Seq(flag, _))
    val command = Seq("spark-submit") ++
      arg("--driver-memory", "SPARK_DRIVER_MEM") ++
      Seq("--class", "graft.LoadDataset", "local:///opt/graft/graft.jar",
        ds.name) ++
      arg("--warehouse", "GRAFT_WAREHOUSE_DIR") ++
      arg("--sf-dir", "GRAFT_SF_DIR")
    val commandLines = command
      .map(a => s"""            - "${escape(a)}"""").mkString("\n")
    val envLines = env("SPARK_GRAFT_CPUS").map { v =>
      s"""
         |            env:
         |            - name: SPARK_GRAFT_CPUS
         |              value: "${escape(v)}"""".stripMargin
    }.getOrElse("")
    s"""apiVersion: batch/v1
       |kind: CronJob
       |metadata:
       |  name: $name
       |spec:
       |  schedule: "${ds.schedule}"
       |  concurrencyPolicy: Forbid
       |  jobTemplate:
       |    spec:
       |      backoffLimit: 0
       |      template:
       |        spec:
       |          restartPolicy: Never
       |          containers:
       |          - name: $name
       |            image: $image
       |            command:
       |$commandLines$envLines
       |""".stripMargin
  }

  private def escape(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Render every registry dataset into `jobsDir` —
    * `k8s_build_jobs.py:63-75`'s write loop. Returns the files
    * written, in registry order.
    */
  def writeAll(
      registry: Seq[DatasetSpec],
      jobsDir: Path,
      image: String = "graft/spark-loader:latest",
      env: String => Option[String] = sys.env.get): Seq[Path] = {
    Files.createDirectories(jobsDir)
    registry.map { ds =>
      val out = jobsDir.resolve(s"load_dataset_${ds.name}.yml")
      Files.write(out,
        render(ds, image, env).getBytes(StandardCharsets.UTF_8))
      out
    }
  }
}
