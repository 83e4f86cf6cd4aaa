package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.datasets.{JobSpecs, Registry, Scheduling}

/** Job-spec emission — the reference's CronJob fan-out
  * (`k8s_build_jobs.py:41-76`): one spec per registry dataset, name
  * slugified, schedule from the registry, env pass-through, stable
  * output (golden).
  */
class JobSpecsSpec extends AnyFunSuite {

  private val registry = Registry.datasets("/root/testdata/sf0.001")

  test("writeAll renders one spec per registry dataset") {
    val dir = Files.createTempDirectory("graft-jobs")
    val files = JobSpecs.writeAll(registry, dir,
      image = "graft/spark-loader:v1", env = _ => None)
    assert(files.map(_.getFileName.toString) ===
      registry.map(d => s"load_dataset_${d.name}.yml"))
    files.foreach(f => assert(Files.exists(f)))
  }

  test("golden: rendered spec carries slug name, schedule, command, env") {
    val ds = registry.find(_.name == "star_facts").get
    assert(ds.schedule === Scheduling.Daily10pm)
    val got = JobSpecs.render(ds, "graft/spark-loader:v1",
      Map("GRAFT_SF_DIR" -> "/data/sf1",
        "SPARK_GRAFT_CPUS" -> "8").get)
    val want =
      """apiVersion: batch/v1
        |kind: CronJob
        |metadata:
        |  name: load-dataset-star-facts
        |spec:
        |  schedule: "0 22 * * *"
        |  concurrencyPolicy: Forbid
        |  jobTemplate:
        |    spec:
        |      backoffLimit: 0
        |      template:
        |        spec:
        |          restartPolicy: Never
        |          containers:
        |          - name: load-dataset-star-facts
        |            image: graft/spark-loader:v1
        |            command:
        |            - "spark-submit"
        |            - "--class"
        |            - "graft.LoadDataset"
        |            - "local:///opt/graft/graft.jar"
        |            - "star_facts"
        |            - "--sf-dir"
        |            - "/data/sf1"
        |            env:
        |            - name: SPARK_GRAFT_CPUS
        |              value: "8"
        |""".stripMargin
    assert(got === want)
  }

  /** The container command of a rendered spec, one entry per argument. */
  private def command(spec: String): Seq[String] =
    spec.linesIterator.dropWhile(_.trim != "command:").drop(1)
      .takeWhile(_.trim.startsWith("- \"")).map(_.trim.drop(3).dropRight(1))
      .toSeq

  test("render-time settings reach their readers as arguments") {
    val ds = registry.head
    val spec = JobSpecs.render(ds, "img", Map(
      "GRAFT_WAREHOUSE_DIR" -> "/w", "GRAFT_SF_DIR" -> "/d",
      "SPARK_DRIVER_MEM" -> "6g").get)
    assert(command(spec) === Seq("spark-submit", "--driver-memory", "6g",
      "--class", "graft.LoadDataset", "local:///opt/graft/graft.jar",
      ds.name, "--warehouse", "/w", "--sf-dir", "/d"))
    // unset settings are left out, so LoadDataset keeps its defaults
    val bare = JobSpecs.render(ds, "img", _ => None)
    assert(command(bare) === Seq("spark-submit", "--class",
      "graft.LoadDataset", "local:///opt/graft/graft.jar", ds.name))
    assert(!bare.contains("env:"))
  }

  test("env values with quotes/backslashes are escaped") {
    val ds = registry.head
    val spec = JobSpecs.render(ds, "img",
      Map("GRAFT_SF_DIR" -> """pa"th\x""").get)
    assert(spec.contains("""- "pa\"th\\x""""))
  }

  test("rendered files round-trip byte-identically (deterministic emit)") {
    val dir = Files.createTempDirectory("graft-jobs")
    JobSpecs.writeAll(registry, dir, image = "img", env = _ => None)
    val first = registry.map(d => new String(Files.readAllBytes(
      dir.resolve(s"load_dataset_${d.name}.yml")), StandardCharsets.UTF_8))
    JobSpecs.writeAll(registry, dir, image = "img", env = _ => None)
    val second = registry.map(d => new String(Files.readAllBytes(
      dir.resolve(s"load_dataset_${d.name}.yml")), StandardCharsets.UTF_8))
    assert(first === second)
  }
}
