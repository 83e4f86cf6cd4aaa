package graft.perfbench

import java.nio.file.{Files, Path}
import java.time.Instant
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.catalog.Warehouse
import graft.datasets.{DatasetSpec, Registry}
import graft.queries.TruthSets
import graft.runner.{JobRunner, RecordingNotifier}
import graft.state.{DatasetTracker, FileStateStore, JavaHttpClient, UrlModTracker}

/** What a run accumulates: one wall time per pass, one latency per
  * timed operation, failures, and a record per operation for the out
  * file. A "pass" is the unit a workload repeats: one sweep over its
  * queries, or one full load cycle.
  */
final class Run(
    val spark: SparkSession,
    val rec: Recorder,
    val data: String,
    val work: Path,
    val expected: Map[String, Map[String, Fingerprint]],
    val seed: Long) {
  val passWalls = ArrayBuffer.empty[Double]
  val passCpu = ArrayBuffer.empty[Double]
  val latencies = ArrayBuffer.empty[Double]
  val opRecords = ArrayBuffer.empty[Map[String, Any]]
  val passRecords = ArrayBuffer.empty[Map[String, Any]]
  val stored = ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  def tracer: Tracer = rec.tracer

  /** CPU time of this JVM, all threads, in nanoseconds. */
  def cpuNanos(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Bytes of the input data: the base of the write and storage ratios. */
  val sourceBytes: Long = Workloads.du(java.nio.file.Paths.get(data))._1

  def fail(what: String, detail: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] FAIL $what: $detail")
  }

  /** Compare a result with its recorded fingerprint; true if it matches. */
  def check(group: String, name: String, got: Fingerprint): Boolean =
    expected.get(group).flatMap(_.get(name)) match {
      case Some(want) if want == got => true
      case want =>
        fail(s"$group/$name", s"got rows=${got.rows} hash=${got.hex}, want " +
          want.map(w => s"rows=${w.rows} hash=${w.hex}").getOrElse("no record"))
        false
    }
}

object Workloads {
  /** ROADMAP item 3's loop-driven queries, whose time goes to jobs the
    * query function runs before it returns. The three that submit the
    * most jobs (`dd26_index_lifecycle`, `g2_pagerank`,
    * `dd24_incremental_clusters`) are left out: together they cost ~48 s
    * of a cold pass, more than one run's whole budget. The graph family
    * stays in through `hits1` and `ppr1`.
    */
  val Iterative: Seq[String] = Seq(
    "qc1_quality_classifier", "mta1_markov_attribution",
    "hits1_bipartite_hits", "pca2_top2_map", "ppr1_personalized_pagerank",
    "bpe1_train_merges")

  /** Single-plan queries whose time is execution, with the wide plans of
    * ROADMAP item 4 (`bs1`, `perm1`, `a12`).
    */
  val Scan: Seq[String] = Seq(
    "q0_flagship_bldgs", "j1_left_join_agg", "a1_group_count",
    "a15_percentiles", "w1_running", "o3_topk_per_group", "j8_range_join",
    "e3_session", "t9_tfidf", "dd2_minhash_pairs", "dd5_embedding_neardup",
    "sim1_tfidf_cosine", "pipe1_corpus_clean", "bs1_bootstrap_ci",
    "perm1_permutation_test", "a12_rollup")

  /** One sweep over `names` in the seed's order, each query to its full
    * result. Traced runs also force the physical plan first, so planning
    * is timed apart from execution.
    */
  def queryPass(run: Run, names: Seq[String], pass: Int): Unit = {
    import run._
    TruthSets.clear()
    tracer.pass = pass
    val t0 = System.nanoTime()
    val cpu0 = cpuNanos()
    Plan.order(seed, pass, names).foreach { q =>
      tracer.op = q
      attempted += 1
      try {
        val s0 = System.nanoTime()
        val df = rec.layer("queries.construct")(SparkEntry.queries(q)(spark, data))
        val plan: Map[String, Any] =
          if (!tracer.enabled) Map.empty
          else {
            val qe = df.queryExecution
            rec.layer("queries.plan")(qe.executedPlan)
            val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
            Map("phases_s" -> phases,
              "expr_nodes" -> qe.optimizedPlan.collect {
                case n => n.expressions.map(_.collect { case e => e }.size).sum
              }.sum)
          }
        val fp = rec.layer("queries.execute")(Fingerprint.write(df, s"$pass/$q"))
        val secs = (System.nanoTime() - s0) / 1e9
        latencies += secs
        val ok = check("queries", q, fp)
        opRecords += Map("pass" -> pass, "op" -> q, "latency_s" -> secs,
          "rows" -> fp.rows, "correct" -> ok) ++ plan
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          fail(q, e.toString)
      }
    }
    passWalls += (System.nanoTime() - t0) / 1e9
    passCpu += (cpuNanos() - cpu0) / 1e9
  }

  /** Load-cycle pass kinds; a cycle's pass ids are `4 * cycle + kind`. */
  val Cold = 0
  val Unchanged = 1
  val Partial = 2
  val Vacuum = 3
  val KindNames = Seq("cold", "unchanged", "partial", "vacuum")

  /** How many datasets change in the partial pass. */
  val PartialChanged = 3

  /** Bytes and files under `p`. */
  def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** One load cycle against a fresh warehouse, state file and ETag
    * server: a cold pass (every source changed), an unchanged pass
    * (every URL answers 304), a partial pass (the seed's subset
    * changed), then vacuum. Each loading pass ends with a reader step
    * over every published table. Checks run after each pass and are not
    * part of the cycle's wall time.
    */
  def loadCycle(run: Run, cycle: Int): Unit = {
    import run._
    val dir = work.resolve(s"cycle-$cycle")
    deleteTree(dir)
    Files.createDirectories(dir)
    val server = new EtagServer
    try {
      val state = new FileStateStore(dir.resolve("state.json"))
      val store = new TimedStateStore(state, rec)
      val http = new TimedHttpClient(new JavaHttpClient, rec)
      val wh = new Warehouse(dir.resolve("warehouse"))
      val specs = Registry.datasets(data).map(TimedDataset(_, server, rec))
      var tick = 0L
      val clock = () => { tick += 1; Instant.ofEpochSecond(1600000000L + tick) }
      val runner = new JobRunner(spark, wh, store, http, new RecordingNotifier, clock)
      val names = specs.map(_.name)
      val tables = specs.flatMap(_.tableNames).toSet
      val owner = specs.flatMap(d => d.tableNames.map(_ -> d.name)).toMap
      // a fixed number of the cheaper datasets, so the seed moves which
      // sources change but not how much the pass costs: `wow` (the
      // portfolio build, ~4.5 s) changes only in the cold pass
      val partial = Plan.changed(seed, cycle, names.filterNot(_ == "wow"), PartialChanged)
      var checkNanos = 0L
      var checkCpu = 0L
      val t0 = System.nanoTime()
      val cpu0 = cpuNanos()

      def pass(kind: Int, changed: Set[String]): Unit = {
        val id = 4 * cycle + kind
        TruthSets.clear()
        tracer.pass = id
        changed.foreach(server.bump)
        def validators(d: DatasetSpec) = (
          state.get(UrlModTracker.etagKey(d.urls.head)),
          state.get(DatasetTracker.key(d.name)))
        val before = specs.map(d => d.name -> validators(d)).toMap
        val (bytesBefore, filesBefore) = du(wh.root)
        val p0 = System.nanoTime()
        val loaded = Plan.order(seed, id, specs).flatMap { ds =>
          tracer.op = ds.name
          attempted += 1
          val d0 = if (tracer.enabled) du(wh.root) else (0L, 0L)
          val s0 = System.nanoTime()
          val ok = try Some(rec.layer("runner.run")(runner.run(ds)))
          catch { case NonFatal(e) => e.printStackTrace(); fail(ds.name, e.toString); None }
          val secs = (System.nanoTime() - s0) / 1e9
          if (ok.contains(true)) latencies += secs
          if (tracer.enabled) {
            val d1 = du(wh.root)
            tracer.add(if (ok.contains(true)) "runner.loaded" else "runner.skipped")
            tracer.add("catalog.bytes_written", d1._1 - d0._1)
            tracer.add("catalog.files_written", d1._2 - d0._2)
          }
          opRecords += Map("pass" -> id, "kind" -> KindNames(kind), "op" -> ds.name,
            "latency_s" -> secs, "loaded" -> ok.contains(true))
          ok.map(ds.name -> _)
        }.toMap
        val reads =
          if (kind == Unchanged) Map.empty[String, Fingerprint]
          else wh.tableNames.flatMap { t =>
            tracer.op = t
            attempted += 1
            try Some(t -> rec.layer("catalog.read")(
              Fingerprint.write(wh.table(spark, t), s"$id/$t")))
            catch { case NonFatal(e) => e.printStackTrace(); fail(t, e.toString); None }
          }.toMap
        val wall = System.nanoTime() - p0
        tracer.op = ""

        val c0 = System.nanoTime()
        val cc0 = cpuNanos()
        val bad = collection.mutable.Set.empty[String]
        if (wh.tableNames.toSet != tables)
          fail(s"pass $id manifest", s"tables ${wh.tableNames.sorted} != ${tables.toSeq.sorted}")
        // row counts of every table: a loading pass has them (with the
        // content hash) from its reader step, which reads each table
        // through `Warehouse.table` as `rowcounts` does; the unchanged
        // pass, which reads nothing, asks `rowcounts`
        reads.foreach { case (t, fp) => if (!check("tables", t, fp)) bad += owner(t) }
        if (kind == Unchanged) wh.rowcounts(spark).foreach { case (t, n) =>
          val want = expected.get("tables").flatMap(_.get(t)).map(_.rows)
          if (!want.contains(n)) {
            bad += owner(t)
            fail(s"pass $id rowcount $t", s"$n != $want")
          }
        }
        specs.foreach { d =>
          val shouldLoad = changed.contains(d.name)
          val (etag, tracked) = validators(d)
          val (etag0, tracked0) = before(d.name)
          val advanced =
            if (shouldLoad) etag.contains(server.etag(d.name)) && tracked != tracked0 && tracked.nonEmpty
            else etag == etag0 && tracked == tracked0
          if (!loaded.get(d.name).contains(shouldLoad) || !advanced) {
            bad += d.name
            fail(s"pass $id ${d.name}", s"loaded=${loaded.get(d.name)} expected=$shouldLoad " +
              s"etag $etag0 -> $etag, tracker $tracked0 -> $tracked")
          }
        }
        if (kind == Unchanged && du(wh.root) != ((bytesBefore, filesBefore)))
          fail(s"pass $id", s"unchanged pass wrote to the warehouse: ${du(wh.root)} vs ${(bytesBefore, filesBefore)}")
        val checked = System.nanoTime() - c0
        checkNanos += checked
        checkCpu += cpuNanos() - cc0
        passRecords += Map("pass" -> id, "kind" -> KindNames(kind), "wall_s" -> wall / 1e9,
          "checks_s" -> checked / 1e9,
          "changed" -> changed.toSeq.sorted, "datasets_failed" -> bad.toSeq.sorted)
      }

      pass(Cold, names.toSet)
      pass(Unchanged, Set.empty)
      pass(Partial, partial)
      tracer.pass = 4 * cycle + Vacuum
      tracer.op = "vacuum"
      val (before, _) = du(wh.root)
      rec.layer("catalog.vacuum")(wh.vacuum())
      val (after, _) = du(wh.root)
      tracer.add("catalog.bytes_freed", before - after)
      tracer.op = ""
      passWalls += (System.nanoTime() - t0 - checkNanos) / 1e9
      passCpu += (cpuNanos() - cpu0 - checkCpu) / 1e9
      stored += after.toDouble / sourceBytes
    } finally server.stop()
  }

  /** Writes the expected fingerprints: every benchmarked query once, and
    * every table of one cold load.
    */
  def record(run: Run, out: Path): Unit = {
    import run._
    val queries = (Iterative ++ Scan).map { q =>
      TruthSets.clear()
      q -> Fingerprint.write(SparkEntry.queries(q)(spark, data), q)
    }.toMap
    val dir = work.resolve("record")
    deleteTree(dir)
    val wh = new Warehouse(dir.resolve("warehouse"))
    val runner = new JobRunner(spark, wh, new graft.state.MemoryStateStore,
      new JavaHttpClient, new RecordingNotifier)
    Registry.datasets(data).foreach(runner.run(_))
    val tables = wh.tableNames.map(t => t -> Fingerprint.write(wh.table(spark, t), t)).toMap
    Files.write(out, Expected.render(Map("queries" -> queries, "tables" -> tables))
      .getBytes("UTF-8"))
  }
}
