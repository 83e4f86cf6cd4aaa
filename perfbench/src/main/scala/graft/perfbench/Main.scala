package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo


import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Benchmark driver. Usage (run through `perfbench/run.py`, which builds
  * the classpath):
  *
  * {{{
  * Main --workload load_cycle|query_iterative|query_scan|record
  *      --seed N --seconds S --trace 0|1 --home DIR
  * }}}
  *
  * Prints a table of every metric to stderr, writes the full record to
  * `DIR/out/`, and prints one JSON line to stdout: the end-to-end
  * metrics untraced, the per-layer metrics traced.
  */
object Main {
  /** Repeated set-ups per run; `setup_s` is their median. */
  val Setups = 3

  /** The input, relative to the bench's directory. */
  val Data = "data/sf0.01"

  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean, home: Path,
      commit: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, trace == "1",
      Paths.get(need("home")).toAbsolutePath, m.getOrElse("commit", "unknown"))
  }

  def session(threads: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Bring up a usable session: one small join and aggregation through
    * the result sink. This is the set-up that `setup_s` times.
    */
  def firstQuery(spark: SparkSession, data: String): Unit = {
    val nation = spark.read.parquet(s"$data/nation.parquet")
    val region = spark.read.parquet(s"$data/region.parquet")
    Fingerprint.write(nation.join(region, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name")).count(), "set-up")
  }

  /** Generic Spark work of the shapes the queries use — joins,
    * aggregations, a window, a sort, checkpoints, a write and read-back,
    * and a loop of small collected jobs — so the engine's first-use costs
    * (class loading, JIT of the planner and scheduler) are paid before
    * timing and not by whichever query the seed puts first. It runs none
    * of the program's code.
    */
  def warmUpEngine(spark: SparkSession, data: String, work: Path): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$data/lineitem.parquet")
    val orders = spark.read.parquet(s"$data/orders.parquet")
    val customer = spark.read.parquet(s"$data/customer.parquet")
    val joined = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
    Fingerprint.write(joined.groupBy(col("c_mktsegment"), col("o_orderpriority"))
      .agg(count(lit(1)), sum(col("l_quantity")), avg(col("l_extendedprice")),
        countDistinct(col("l_suppkey"))), "warm-up")
    Fingerprint.write(orders.withColumn("rn", row_number().over(
      Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"))))
      .filter(col("rn") <= 3).orderBy(col("o_totalprice").desc).limit(100), "warm-up")
    var state = customer.select(col("c_custkey").as("k"), lit(1.0).as("v")).localCheckpoint()
    (1 to 2).foreach { i =>
      state = state.join(orders.select(col("o_custkey").as("k")).distinct(), "k")
        .groupBy(col("k")).agg((sum(col("v")) * 0.5 + i).as("v")).localCheckpoint()
      state.agg(max(col("v"))).collect()
    }
    val dir = work.resolve("warm-up").toString
    joined.select(col("l_orderkey"), col("c_name")).limit(1000)
      .write.mode("overwrite").parquet(dir)
    Fingerprint.write(spark.read.parquet(dir), "warm-up")
  }

  /** Peak old-generation occupancy right after each GC, from the JVM's
    * GC notifications.
    */
  final class HeapWatch extends NotificationListener {
    @volatile var peak = 0L
    private def old(pool: String) = pool.contains("Old") || pool.contains("Tenured")
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }
    emitters.foreach(_.addNotificationListener(this, null, null))

    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
          if (old(pool)) peak = math.max(peak, u.getUsed)
        }
      }

    /** Collect, then fold in the old pools' after-collection usage, which
      * does not wait for the notification thread.
      */
    def sample(): Unit = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => old(p.getName) && p.getCollectionUsage != null)
        .foreach(p => peak = math.max(peak, p.getCollectionUsage.getUsed))
    }

    def close(): Unit = emitters.foreach(_.removeNotificationListener(this))
  }

  private def rows(ms: Seq[(String, Double, String)]) =
    ms.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val nproc = Runtime.getRuntime.availableProcessors
    val threads = math.min(4, nproc)
    val data = args.home.resolve(Data).toString
    val work = args.home.resolve("work")
    val expectedPath = args.home.resolve("expected.json")
    val outDir = args.home.resolve("out")
    Files.createDirectories(work)
    Files.createDirectories(outDir)
    val workloads = Set("load_cycle", "query_iterative", "query_scan", "record")
    require(workloads.contains(args.workload),
      s"unknown workload ${args.workload}; one of ${workloads.toSeq.sorted.mkString(", ")}")
    require(args.seconds >= 1, "--seconds must be at least 1")

    // set-up, several times: a session and its first query; the first
    // set-up also counts the JVM's start
    var spark: SparkSession = null
    val setups = (1 to Setups).map { k =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(threads, work)
      firstQuery(spark, data)
      if (k == 1) ManagementFactory.getRuntimeMXBean.getUptime / 1e3
      else (System.nanoTime() - t0) / 1e9
    }

    val stats = new SparkStats
    spark.sparkContext.addSparkListener(stats)
    val tracer = new Tracer(args.trace)
    val rec = new Recorder(tracer, spark.sparkContext)
    val expected =
      if (args.workload == "record") Map.empty[String, Map[String, Fingerprint]]
      else Expected.load(expectedPath)
    val run = new Run(spark, rec, data, work, expected, args.seed)

    if (args.workload == "record") {
      Workloads.record(run, expectedPath)
      System.err.println(s"[perfbench] wrote $expectedPath")
      spark.stop()
      return
    }

    // warm-up, timed apart from set-up; load_cycle runs none: its first
    // operations are loads like its others, and its wall_s spread no
    // wider between seeds without one
    val w0 = System.nanoTime()
    if (args.workload != "load_cycle") warmUpEngine(spark, data, work)
    val warmup = (System.nanoTime() - w0) / 1e9

    val heap = new HeapWatch
    val t0 = System.nanoTime()
    val deadline = t0 + args.seconds * 1000000000L
    var pass = 0
    do {
      args.workload match {
        case "load_cycle" => Workloads.loadCycle(run, pass)
        case "query_iterative" => Workloads.queryPass(run, Workloads.Iterative, pass)
        case "query_scan" => Workloads.queryPass(run, Workloads.Scan, pass)
      }
      heap.sample()
      pass += 1
    } while (System.nanoTime() < deadline)
    val measured = (System.nanoTime() - t0) / 1e9
    heap.close()
    val units = run.passWalls.size
    val isLoad = args.workload == "load_cycle"
    def passIds(unit: Int): Seq[Int] = if (isLoad) (0 until 4).map(4 * unit + _) else Seq(unit)

    // job count of every pass, so a pass that reuses earlier work shows
    val passJobs = (0 until units).flatMap(passIds).map { p =>
      p -> stats.sum(spark.sparkContext)(t => Recorder.parse(t).exists(_.pass == p)).jobs
    }

    val (tail, tailPct) =
      if (run.latencies.isEmpty) (Double.NaN, Double.NaN) else Stats.tail(run.latencies.toSeq)
    // the gated metrics (BENCHMARK.json), then the rest the table shows
    val endToEnd = Seq(
      ("setup_s", Stats.median(setups), "s"),
      ("cpu_s", Stats.median(run.passCpu.toSeq), "s"))
    val extra = Seq(
      ("wall_s", Stats.median(run.passWalls.toSeq), "s"),
      ("heap_peak_mb", heap.peak / 1048576.0, "MB"),
      ("op_p50_s", if (run.latencies.isEmpty) Double.NaN else Stats.median(run.latencies.toSeq), "s"),
      ("op_tail_s", tail, "s"),
      ("op_tail_pct", tailPct, "%"),
      ("warmup_s", warmup, "s"),
      ("op_samples", run.latencies.size.toDouble, "count"),
      ("passes", units.toDouble, "count"),
      ("fail_ratio", run.failed.toDouble / math.max(1, run.attempted), "ratio")) ++
      (if (isLoad) Seq(("stored_bytes_ratio", Stats.median(run.stored.toSeq), "ratio")) else Nil)

    val layers = LayerMetrics(run, stats, threads, units, _ => true)
    val byKind =
      if (isLoad && args.trace)
        Workloads.KindNames.indices.map { k =>
          Workloads.KindNames(k) -> LayerMetrics(run, stats, threads, units, _ % 4 == k)
        }
      else Nil

    val reported = if (args.trace) layers else endToEnd
    val loadEnd = os.getSystemLoadAverage
    val record = Map(
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> args.trace, "nproc" -> nproc, "task_threads" -> threads,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.vm.version")}",
      "spark" -> spark.version, "commit" -> args.commit,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
      "measured_s" -> measured, "setups_s" -> setups,
      "pass_walls_s" -> run.passWalls.toSeq, "pass_jobs" -> passJobs.map { case (p, j) => Map("pass" -> p, "jobs" -> j) },
      "end_to_end" -> rows(endToEnd ++ extra),
      "per_layer" -> rows(layers),
      "per_layer_by_pass_kind" -> byKind.map { case (k, ms) => Map("kind" -> k, "metrics" -> rows(ms)) },
      "passes" -> run.passRecords.toSeq, "ops" -> run.opRecords.toSeq,
      "ops_layers" -> LayerMetrics.perOp(run, stats),
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "pass" -> s.pass, "op" -> s.op, "start_ns" -> s.start, "end_ns" -> s.end)))
    val outFile = outDir.resolve(s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}.json")
    Files.write(outFile, Json.render(record).getBytes("UTF-8"))

    val err = System.err
    err.println(f"[perfbench] ${args.workload} seed=${args.seed} trace=${args.trace} " +
      f"passes=$units attempted=${run.attempted} failed=${run.failed} load=$loadStart%.2f->$loadEnd%.2f")
    (endToEnd ++ extra).foreach { case (n, v, u) => err.println(f"  $n%-22s $v%14.4f $u") }
    if (args.trace) {
      layers.foreach { case (n, v, u) => err.println(f"  $n%-28s $v%16.4f $u") }
      byKind.foreach { case (k, ms) =>
        err.println(s"  -- $k pass, per cycle --")
        ms.filter(_._2 != 0).foreach { case (n, v, u) => err.println(f"    $n%-28s $v%16.4f $u") }
      }
    }
    err.println(s"[perfbench] out: $outFile")

    println(Json.render(Map(
      "correct" -> (run.failed == 0),
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "metrics" -> reported.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap),
      pretty = false))
    spark.stop()
  }
}

/** Per-layer metrics from the spans, counters and listener totals of a
  * run, per pass (per cycle for `load_cycle`).
  */
object LayerMetrics {
  def apply(
      run: Run,
      stats: SparkStats,
      threads: Int,
      units: Int,
      keepPass: Int => Boolean): Seq[(String, Double, String)] = {
    val all = run.tracer.spans
    val spans = all.filter(s => keepPass(s.pass))
    val sc = run.spark.sparkContext
    def jobs(keep: Recorder.Tag => Boolean) =
      stats.sum(sc)(t => Recorder.parse(t).exists(g => keepPass(g.pass) && keep(g)))
    val spark = jobs(_ => true)
    val publish = jobs(_.layer == "runner.run")
    def secs(name: String) = Tracer.seconds(spans, name)
    def count(name: String) = run.tracer.counter(name)(keepPass).toDouble
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val u = math.max(1, units).toDouble
    // wall of the kept passes: the load cycle records each pass's own
    val kept = run.passRecords.filter(r => keepPass(r("pass").asInstanceOf[Int]))
    val wall = if (kept.isEmpty) run.passWalls.sum else kept.map(_("wall_s").asInstanceOf[Double]).sum
    val ops = run.opRecords.filter(r => keepPass(r("pass").asInstanceOf[Int]))
    def planSum(phase: String) = ops.flatMap(_.get("phases_s")).map(
      _.asInstanceOf[Map[String, Double]].getOrElse(phase, 0.0)).sum
    val bytesWritten = count("catalog.bytes_written")
    Seq(
      ("runner.run_s", secs("runner.run") / u, "s"),
      ("runner.loaded", count("runner.loaded") / u, "count"),
      ("runner.skipped", count("runner.skipped") / u, "count"),
      ("state.preflight_s", secs("state.preflight") / u, "s"),
      ("state.preflight_checks", count("state.preflight_checks") / u, "count"),
      ("state.unchanged_ratio", ratio(count("state.unchanged"), count("state.preflight_checks")), "ratio"),
      ("state.store_s", secs("state.store") / u, "s"),
      ("state.store_ops", count("state.store_ops") / u, "count"),
      ("ingest.read_s", secs("ingest.read") / u, "s"),
      ("ingest.sources_read", count("ingest.sources_read") / u, "count"),
      ("datasets.derive_s", secs("datasets.derive") / u, "s"),
      ("datasets.derive_jobs", jobs(_.layer == "datasets.derive").jobs / u, "count"),
      ("catalog.publish_s", Tracer.selfSeconds(spans, all, "runner.run") / u, "s"),
      ("catalog.write_s", publish.jobMillis / 1e3 / u, "s"),
      ("catalog.bytes_written", bytesWritten / u, "B"),
      ("catalog.files_written", count("catalog.files_written") / u, "count"),
      ("catalog.write_amp", bytesWritten / u / run.sourceBytes, "ratio"),
      ("catalog.read_s", secs("catalog.read") / u, "s"),
      ("catalog.vacuum_s", secs("catalog.vacuum") / u, "s"),
      ("catalog.bytes_freed", count("catalog.bytes_freed") / u, "B"),
      ("catalog.stored_bytes_ratio",
        if (run.stored.isEmpty) 0.0 else Stats.median(run.stored.toSeq), "ratio"),
      ("queries.construct_s", secs("queries.construct") / u, "s"),
      ("queries.construct_jobs", jobs(_.layer == "queries.construct").jobs / u, "count"),
      ("queries.plan_s", secs("queries.plan") / u, "s"),
      ("queries.plan_analysis_s", planSum("analysis") / u, "s"),
      ("queries.plan_optimization_s", planSum("optimization") / u, "s"),
      ("queries.plan_planning_s", planSum("planning") / u, "s"),
      ("queries.plan_expr_nodes", ops.flatMap(_.get("expr_nodes")).map(_.asInstanceOf[Int]).sum / u, "count"),
      ("queries.execute_s", secs("queries.execute") / u, "s"),
      ("queries.execute_jobs", jobs(_.layer == "queries.execute").jobs / u, "count"),
      ("spark.jobs", spark.jobs / u, "count"),
      ("spark.stages", spark.stages / u, "count"),
      ("spark.tasks", spark.tasks / u, "count"),
      ("spark.tasks_per_job", ratio(spark.tasks.toDouble, spark.jobs.toDouble), "ratio"),
      ("spark.executor_run_s", spark.runMillis / 1e3 / u, "s"),
      ("spark.core_busy_ratio", ratio(spark.runMillis / 1e3, wall * threads), "ratio"),
      ("spark.gc_s", spark.gcMillis / 1e3 / u, "s"),
      ("spark.shuffle_write_bytes", spark.shuffleWriteBytes / u, "B"),
      ("spark.spill_bytes", spark.spillBytes / u, "B"))
  }

  /** Each operation's own split, keyed by query, dataset or table name:
    * span seconds per layer and Spark counters per layer, summed over
    * the run.
    */
  def perOp(run: Run, stats: SparkStats): Map[String, Any] = {
    val sc = run.spark.sparkContext
    run.tracer.spans.filter(_.op.nonEmpty).groupBy(_.op).map { case (op, ss) =>
      op -> Map(
        "seconds" -> ss.groupBy(_.name).map { case (n, xs) => n -> xs.map(_.nanos).sum / 1e9 },
        "jobs" -> ss.map(_.name).distinct.map { layer =>
          layer -> stats.sum(sc)(t => Recorder.parse(t).exists(g => g.op == op && g.layer == layer)).jobs
        }.toMap)
    }
  }
}

/** Minimal JSON writer for the out file and the result line. */
object Json {
  def render(v: Any, pretty: Boolean = true): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case '\n' => sb ++= "\\n"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(v: Any, indent: String): Unit = {
      val nl = if (pretty) "\n" + indent + "  " else ""
      val end = if (pretty) "\n" + indent else ""
      v match {
        case null | None => sb ++= "null"
        case Some(x) => go(x, indent)
        case s: String => str(s)
        case b: Boolean => sb ++= b.toString
        case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
        case n: Number => sb ++= n.toString
        case m: collection.Map[_, _] =>
          sb += '{'
          m.toSeq.sortBy(_._1.toString).zipWithIndex.foreach { case ((k, x), i) =>
            if (i > 0) sb += ','
            sb ++= nl
            str(k.toString)
            sb ++= ": "
            go(x, indent + "  ")
          }
          if (m.nonEmpty) sb ++= end
          sb += '}'
        case xs: Iterable[_] =>
          sb += '['
          xs.zipWithIndex.foreach { case (x, i) =>
            if (i > 0) sb ++= ", "
            go(x, indent + "  ")
          }
          sb += ']'
        case t: Product => go(t.productIterator.toSeq, indent)
        case other => str(other.toString)
      }
    }
    go(v, "")
    sb.toString
  }
}
