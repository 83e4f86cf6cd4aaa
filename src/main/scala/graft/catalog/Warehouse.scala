package graft.catalog

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.state.JsonCodec

/** Atomic staged publishing — the reference's temp-schema swap
  * (`load_dataset.py:209-252,365-370`: build every table in
  * `temp_<ds>_<epoch>`, then drop the public tables and
  * `ALTER TABLE … SET SCHEMA public` so readers never observe a
  * partial load; rollback drops the temp schema).
  *
  * Spark-first re-architecture: a warehouse directory whose
  * table -> data-path bindings live in a single `manifest.json`
  * snapshot pointer, replaced with a filesystem ATOMIC_MOVE. Readers
  * resolve tables through the manifest, so a publish of N tables is
  * exactly one atomic pointer flip — stronger than per-table renames
  * (which would expose mixed generations between renames) and the same
  * root-pointer design Iceberg/Delta use for snapshot isolation.
  *
  * Failure handling mirrors the reference's context manager
  * (`load_dataset.py:228-241`): any exception while staging deletes the
  * staged generation directory and leaves the manifest untouched.
  *
  * Scale note: table data is written once to its final location
  * (`data/<table>__<gen>/`) — publish does NOT rewrite or move data
  * files, so the swap cost is O(1) regardless of table size.
  */
final class Warehouse(val root: Path) {
  def this(root: String) = this(Paths.get(root))

  private val manifestPath = root.resolve("manifest.json")
  private val lockPath = root.resolve("manifest.lock")

  /** Exclusive manifest lock, honored ACROSS processes: the
    * reference's deployment model is one pod per dataset
    * (`k8s_build_jobs.py:63-75`), so concurrent dataset jobs share a
    * warehouse root from separate JVMs. A `FileChannel` lock
    * serializes the cross-process case; since `FileLock` throws
    * `OverlappingFileLockException` for a second locker in the SAME
    * JVM (rather than waiting), in-JVM racers first serialize on a
    * per-root monitor. The lock guards only the cheap metadata
    * critical sections (generation reservation, manifest flip) —
    * data staging, the heavy phase, runs unlocked and fully parallel.
    */
  private def withManifestLock[A](f: => A): A = {
    val monitor = Warehouse.jvmLocks.computeIfAbsent(
      root.toAbsolutePath.normalize.toString, _ => new Object)
    monitor.synchronized {
      Files.createDirectories(root)
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val l = ch.lock()
        try f finally l.release()
      } finally ch.close()
    }
  }

  /** Current table -> relative data dir bindings. */
  def manifest: Map[String, String] = JsonCodec.read(manifestPath).toMap

  def tableNames: Seq[String] = manifest.keys.toSeq.sorted

  def tableExists(name: String): Boolean = manifest.contains(name)

  /** Incremental merge: upsert `delta` into a published table by key
    * (delta rows replace same-key rows, new keys insert) and publish
    * the result atomically as a new generation — the incremental
    * alternative to the reference's full reload (readers still never
    * observe partial state; rollback/vacuum semantics unchanged).
    */
  def upsertInto(
      spark: SparkSession,
      name: String,
      delta: DataFrame,
      keys: Seq[String]): Unit =
    publishAtomically(Map(
      name -> graft.ops.Ops.upsert(table(spark, name), delta, keys)))

  /** Atomic delete: publish `table WHERE NOT cond` as a new generation
    * (readers flip from the old snapshot to the filtered one at the
    * manifest move; the old generation stays time-travel readable
    * until vacuumed) — completes the mutation triad with [[upsertInto]]
    * and SCD2 merges. `cond` selects the rows to REMOVE; rows where
    * `cond` is NULL are NOT selected and are kept (SQL DELETE
    * semantics — a bare `filter(!cond)` would silently drop them).
    */
  def deleteWhere(
      spark: SparkSession,
      name: String,
      cond: org.apache.spark.sql.Column): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    publishAtomically(Map(
      name -> table(spark, name).filter(!coalesce(cond, lit(false)))))
  }

  /** Read a published table (readers always see one consistent
    * generation — S10-style introspection + reads go through here).
    */
  def table(spark: SparkSession, name: String): DataFrame = {
    val rel = manifest.getOrElse(name,
      throw new NoSuchElementException(s"table not published: $name"))
    spark.read.parquet(root.resolve(rel).toString)
  }

  // -- snapshot log (time travel) -------------------------------------

  private val snapshotsDir = root.resolve("snapshots")

  /** Published snapshot ids, oldest first. Every successful publish
    * appends `snapshots/manifest-<gen>.json` (the full binding map,
    * Iceberg-style root-pointer history); the current `manifest.json`
    * stays the single source of truth for LIVE reads.
    */
  def snapshots: Seq[Long] =
    if (!Files.exists(snapshotsDir)) Nil
    else {
      val s = Files.list(snapshotsDir)
      // zero-byte entries are generation RESERVATIONS from an
      // in-flight (or crashed) publish, not published history — skip
      try s.iterator().asScala
        .filter(p => Files.size(p) > 0)
        .map(_.getFileName.toString)
        .collect { case SnapshotFile(gen) => gen.toLong }
        .toSeq.sorted
      finally s.close()
    }

  private val SnapshotFile = "manifest-(\\d+)\\.json".r

  /** Table bindings as of a past snapshot. */
  def manifestAt(snapshot: Long): Map[String, String] = {
    val p = snapshotsDir.resolve(s"manifest-$snapshot.json")
    if (!Files.exists(p)) throw new NoSuchElementException(
      s"no such snapshot: $snapshot (have: ${snapshots.mkString(",")})")
    JsonCodec.read(p).toMap
  }

  /** Time-travel read: the table as of `snapshot`. Valid as long as
    * the generation dirs it references survive — [[vacuum]] keeps a
    * past snapshot readable while it is among the `retainSnapshots`
    * newest log entries (the newest entry usually IS the live state,
    * so one past state needs `retainSnapshots = 2`).
    */
  def tableAt(spark: SparkSession, name: String, snapshot: Long): DataFrame = {
    val rel = manifestAt(snapshot).getOrElse(name,
      throw new NoSuchElementException(
        s"table $name not in snapshot $snapshot"))
    spark.read.parquet(root.resolve(rel).toString)
  }

  /** Row-count probe (`dbtool.py:61-68`). */
  def rowcounts(spark: SparkSession): Map[String, Long] =
    manifest.keys.map(n => n -> table(spark, n).count()).toMap

  // -- per-table properties (metadata that survives republish) --------

  private val propertiesDir = root.resolve("properties")
  // reserved property-entry names (not tables): schema-level grants
  // and the user registry live in the same atomic property store
  private val SchemaEntry = "__schema"
  private val UsersEntry = "__users"
  private def propsPath(name: String) = {
    // the name is interpolated into a filesystem path — reject
    // separators/traversal so the metadata API can't read or write
    // outside the properties dir
    require(name.nonEmpty && name.forall(c =>
        c.isLetterOrDigit || c == '_' || c == '-'),
      s"invalid table name '$name': only [A-Za-z0-9_-] allowed")
    propertiesDir.resolve(s"$name.json")
  }

  /** Table metadata: comments, grants, arbitrary key=value. Stored
    * against the table NAME — not the data generation — so a republish
    * can never lose it BY CONSTRUCTION. This is the architectural fix
    * for the reference's save-and-reapply workaround
    * (`load_dataset.py:172-200`, `lib/db_perms.py:29-57`): Postgres
    * attaches ACLs to the table OBJECT, which the swap drops, so the
    * loader must snapshot grants before and replay them after; here
    * the metadata binding simply outlives every generation.
    */
  def tableProperties(name: String): Map[String, String] =
    JsonCodec.read(propsPath(name)).toMap

  /** Merge `props` into the table's properties (same-key overwrite),
    * atomically (tmp + ATOMIC_MOVE, like the manifest flip).
    */
  def setTableProperties(name: String, props: Map[String, String]): Unit =
    writeProps(name, tableProperties(name) ++ props)

  /** Remove the given property keys. */
  def unsetTableProperties(name: String, keys: Seq[String]): Unit =
    writeProps(name, tableProperties(name) -- keys)

  private def writeProps(name: String, all: Map[String, String]): Unit =
    JsonCodec.write(propsPath(name),
      collection.immutable.ListMap.from(all.toSeq.sortBy(_._1)))

  /** GRANT-style sugar over the property store (`grant:` keyspace,
    * like the StateStore's `etag:`/`last_modified:` convention):
    * `grant("bldgs", "wowuser", Seq("SELECT"))` persists across any
    * number of republishes — the reference invariant its db_perms
    * machinery exists to enforce.
    */
  def grant(name: String, grantee: String, privileges: Seq[String]): Unit =
    setTableProperties(name,
      Map(s"grant:$grantee" -> privileges.map(_.toUpperCase).sorted.distinct
        .mkString(",")))

  /** Revoking from a grantee who holds a schema-level grant writes an
    * explicit EMPTY table-level entry (which takes precedence) instead
    * of unsetting — otherwise [[grants]] would fall through to the
    * schema entry and the revoke would be silently ineffective.
    */
  def revoke(name: String, grantee: String): Unit =
    if (tableProperties(SchemaEntry).contains(s"grant:$grantee"))
      setTableProperties(name, Map(s"grant:$grantee" -> ""))
    else
      unsetTableProperties(name, Seq(s"grant:$grantee"))

  /** grantee -> privileges for a table. Schema-level grants
    * ([[grantSchemaRead]]) apply to every table — including tables
    * published AFTER the grant (the reference's ALTER DEFAULT
    * PRIVILEGES semantics, `dbtool.py:123-136`) — with table-level
    * entries taking precedence on a same-grantee collision; an empty
    * table-level entry (a [[revoke]] mask) removes the grantee.
    */
  def grants(name: String): Map[String, Seq[String]] =
    (tableProperties(SchemaEntry) ++ tableProperties(name)).collect {
      case (k, v) if k.startsWith("grant:") =>
        k.stripPrefix("grant:") -> v.split(",").filter(_.nonEmpty).toSeq
    }.filter(_._2.nonEmpty)

  /** Schema-wide read grant — `dbtool.py:123-136` grant_schema_read:
    * SELECT on ALL current tables AND (via the schema-level property
    * entry, our ALTER DEFAULT PRIVILEGES analogue) on any table
    * published later. One property write; [[grants]] folds it in at
    * read time, so republishes can't lose it either.
    */
  def grantSchemaRead(grantee: String): Unit =
    setTableProperties(SchemaEntry, Map(s"grant:$grantee" -> "SELECT"))

  /** Undo [[grantSchemaRead]]: future [[grants]] reads no longer fold
    * the grantee in for any table (table-level entries, including
    * revoke masks, are untouched — masks become inert no-ops).
    */
  def revokeSchemaRead(grantee: String): Unit =
    unsetTableProperties(SchemaEntry, Seq(s"grant:$grantee"))

  /** User registry over the property store — `dbtool.py:149-162`
    * create_user. Stores a sha-256 of the password (never the
    * password itself); returns false if the user already exists.
    */
  def createUser(user: String, password: String): Boolean = {
    val key = s"user:$user"
    if (tableProperties(UsersEntry).contains(key)) false
    else {
      setTableProperties(UsersEntry, Map(key ->
        java.security.MessageDigest.getInstance("SHA-256")
          .digest(password.getBytes(StandardCharsets.UTF_8))
          .map("%02x".format(_)).mkString))
      true
    }
  }

  def users: Seq[String] =
    tableProperties(UsersEntry).keys.toSeq.collect {
      case k if k.startsWith("user:") => k.stripPrefix("user:")
    }.sorted

  /** Stage every DataFrame to a fresh generation dir, then atomically
    * flip the manifest. `layouts` optionally controls the at-rest data
    * layout per table.
    *
    * Metadata carry: per-table properties/grants ([[tableProperties]])
    * are keyed by table name and deliberately NOT touched here — a
    * publish swaps the data binding only, so comments and grants
    * survive every republish (WarehouseSpec: "properties survive an
    * atomic republish"). The reference needs explicit save+reapply
    * around its swap (`load_dataset.py:172-200`); this design removes
    * the failure mode instead of handling it.
    */
  def publishAtomically(
      staged: Map[String, DataFrame],
      generation: Long = System.currentTimeMillis(),
      layouts: Map[String, TableLayout] = Map.empty): Unit = {
    Files.createDirectories(root.resolve("data"))
    // ---- phase 1 (LOCKED, metadata-only): pick + RESERVE a fresh
    // generation, and record each staged table's live binding for the
    // same-table-racer check at flip time.
    //
    // The requested generation must never collide with a LIVE or
    // on-disk generation dir: two publishes of one table within the
    // same millisecond (rapid upsertInto / streaming micro-batches)
    // would otherwise stage INTO the directory readers are on — the
    // overwrite-while-reading fails and rollback would then delete
    // live data. Bump until every staged table's dir is fresh, then
    // reserve the choice by CREATING the generation dirs and a
    // zero-byte snapshot-log placeholder under the lock, so a
    // concurrent publisher's collision scan bumps past this gen even
    // before any data lands (disjoint table sets would otherwise
    // share a gen and overwrite each other's manifest-<gen>.json).
    val (gen, expected) = withManifestLock {
      val live = manifest
      var g = generation
      def collides(g: Long): Boolean = staged.keys.exists { name =>
        val rel = s"data/${name}__$g"
        live.get(name).contains(rel) || Files.exists(root.resolve(rel))
      } || Files.exists(snapshotsDir.resolve(s"manifest-$g.json"))
      while (collides(g)) g += 1
      staged.keys.foreach(name =>
        Files.createDirectories(root.resolve(s"data/${name}__$g")))
      Files.createDirectories(snapshotsDir)
      Files.createFile(snapshotsDir.resolve(s"manifest-$g.json"))
      (g, staged.keys.map(n => n -> live.get(n)).toMap)
    }
    val written = staged.keys.toSeq.map(n => (n, s"data/${n}__$gen"))
    def rollback(): Unit = {
      written.foreach { case (_, rel) => deleteRecursively(root.resolve(rel)) }
      Files.deleteIfExists(snapshotsDir.resolve(s"manifest-$gen.json"))
    }
    var nextJson: String = null
    // set as the LAST statement of the guarded flip: once the manifest
    // ATOMIC_MOVE has landed, the staged dirs are LIVE — a Throwable
    // raised after that point (e.g. lock release/channel close failing
    // in withManifestLock's finally) must NOT trigger rollback(), which
    // would delete generation dirs the live manifest now references
    var flipped = false
    try {
      // ---- phase 2 (UNLOCKED, heavy): stage the data. Concurrent
      // publishes of different tables overlap fully here.
      staged.foreach { case (name, df) =>
        val rel = s"data/${name}__$gen"
        val shaped = layouts.get(name).map(_.apply(df)).getOrElse(df)
        val writer = shaped.write.mode("overwrite")
        val partitioned = layouts.get(name)
          .filter(_.hivePartitionBy.nonEmpty)
          .map(l => writer.partitionBy(l.hivePartitionBy: _*))
          .getOrElse(writer)
        partitioned.parquet(root.resolve(rel).toString)
      }
      // ---- phase 3 (LOCKED, metadata-only): same-table racers fail
      // LOUDLY, then read-merge-flip. Without the recheck, a racer
      // that flipped table T while we staged would have its publish
      // silently reverted by our merge (lost update); with it, the
      // loser rolls back its staged generation and the caller
      // retries against the winner's state.
      withManifestLock {
        val live = manifest
        val clobbered = staged.keys.filter(n => live.get(n) != expected(n))
        if (clobbered.nonEmpty)
          throw new ConcurrentPublishException(
            s"table(s) ${clobbered.mkString(", ")} were republished " +
              s"concurrently (expected ${clobbered.map(expected(_))
                .mkString(", ")}, live ${clobbered.map(live.get)
                .mkString(", ")}); this publish rolled back — retry")
        val next = collection.mutable.LinkedHashMap.empty[String, String]
        live.toSeq.sortBy(_._1).foreach { case (k, v) => next.update(k, v) }
        written.foreach { case (k, v) => next.update(k, v) }
        JsonCodec.write(manifestPath, next)
        nextJson = JsonCodec.renderObject(next)
        flipped = true
      }
    } catch {
      case e: Throwable =>
        // rollback: drop the staged generation + its snapshot
        // reservation, manifest intact — UNLESS the flip already
        // landed (see `flipped`): then the dirs are live data and the
        // failure was post-publish housekeeping
        if (!flipped) rollback()
        throw e
    }
    // snapshot log entry AFTER (and outside) the guarded flip: once the
    // manifest references the new dirs they are LIVE and must never hit
    // the rollback delete — a failure here (or a crash between flip and
    // write) only costs the history entry, never live-read correctness
    // (the zero-byte reservation stays invisible: [[snapshots]] skips
    // empty entries)
    try {
      Files.write(snapshotsDir.resolve(s"manifest-$gen.json"),
        nextJson.getBytes(StandardCharsets.UTF_8))
    } catch {
      case e: java.io.IOException =>
        // deliberately non-fatal (the publish IS live), but a
        // persistent snapshots-dir problem silently disables time
        // travel + vacuum retention — leave a signal
        System.err.println(
          s"[warehouse] WARN: snapshot-log entry for generation $gen " +
            s"not written (${e.getClass.getSimpleName}: ${e.getMessage}); " +
            "time travel to this generation will be unavailable")
    }
  }

  /** Drop data generations no longer referenced by the manifest or the
    * `retainSnapshots` most recent snapshot-log entries (the
    * reference's leftover-temp-schema cleanup,
    * `load_dataset.py:82-89` + drop loop). Older snapshot entries are
    * expired first so history never dangles. Note the NEWEST snapshot
    * normally duplicates the live manifest, so keeping N truly-PAST
    * states readable needs `retainSnapshots = N + 1`; the default 0
    * keeps only live data (the pre-snapshot-log behavior).
    *
    * Concurrency: vacuum takes the manifest lock for its reads AND
    * deletes, but it must still not run concurrently with an
    * IN-FLIGHT publish — a generation staged but not yet flipped is
    * unreferenced by any manifest and would be dropped as garbage.
    * Run vacuum quiesced (the reference's cleanup runs the same way,
    * between loads); it also clears any zero-byte snapshot
    * reservations a crashed publish left behind.
    */
  def vacuum(retainSnapshots: Int = 0): Seq[String] = withManifestLock {
    // crashed-publish reservations: 0-byte snapshot entries whose
    // publish will never complete (we hold the lock, so none is
    // mid-flip right now)
    if (Files.exists(snapshotsDir)) {
      val s = Files.list(snapshotsDir)
      try s.iterator().asScala
        .filter(p => SnapshotFile.matches(p.getFileName.toString) &&
          Files.size(p) == 0)
        .foreach(Files.delete)
      finally s.close()
    }
    val all = snapshots
    val (keep, expire) = all.splitAt(math.max(0, all.size - retainSnapshots))
      match { case (older, newer) => (newer, older) }
    expire.foreach(g =>
      Files.deleteIfExists(snapshotsDir.resolve(s"manifest-$g.json")))
    val live = (manifest.values ++ keep.flatMap(manifestAt(_).values))
      .map(root.resolve(_).normalize).toSet
    val dataDir = root.resolve("data")
    if (!Files.exists(dataDir)) return Nil
    val dropped = {
      val s = Files.list(dataDir)
      try s.iterator().asScala.filterNot(p => live.contains(p.normalize)).toList
      finally s.close()
    }
    dropped.foreach(deleteRecursively)
    dropped.map(_.getFileName.toString)
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}

object Warehouse {
  /** Per-root monitors backing [[Warehouse.withManifestLock]]'s
    * in-JVM serialization (see there). Keyed by normalized absolute
    * root path so every Warehouse instance over the same directory —
    * common in tests and multi-job drivers — shares one monitor.
    */
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
}

/** Thrown when a publish loses a same-table race: another publisher
  * flipped one of this publish's tables between its generation
  * reservation and its manifest flip. The losing publish has rolled
  * back its staged generation; the warehouse holds the winner's state
  * and the caller may simply retry.
  */
final class ConcurrentPublishException(msg: String)
  extends RuntimeException(msg)

/** At-rest layout for a published table — the columnar replacement for
  * the reference's B-tree indexes (SURVEY §2.1 S8,
  * `wow_2021…sql:130-131`): hash-cluster on the hot join key
  * (`clusterBy`) and/or sort within files (`sortBy`) so parquet min/max
  * stats prune row groups on key lookups; `hivePartitionBy` adds
  * directory-level partition pruning for low-cardinality columns.
  */
final case class TableLayout(
    clusterBy: Seq[String] = Nil,
    sortBy: Seq[String] = Nil,
    hivePartitionBy: Seq[String] = Nil,
    numFiles: Option[Int] = None) {

  def apply(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val clustered =
      if (clusterBy.nonEmpty)
        numFiles.map(n => df.repartition(n, clusterBy.map(col): _*))
          .getOrElse(df.repartition(clusterBy.map(col): _*))
      else numFiles.map(df.repartition(_)).getOrElse(df)
    if (sortBy.nonEmpty) clustered.sortWithinPartitions(sortBy.map(col): _*)
    else clustered
  }
}
