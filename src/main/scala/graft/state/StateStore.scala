package graft.state

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.`type`.TypeReference
import com.fasterxml.jackson.core.util.{DefaultPrettyPrinter, Separators}
import com.fasterxml.jackson.databind.ObjectMapper

/** Key-value state store — the reference's `dbhash` table
  * (`lib/dbhash.py:51-103`: get / set / delete / set_or_delete over
  * `(key text PRIMARY KEY, value text)`).
  *
  * State is tiny (one row per source URL / dataset), so the Spark-native
  * design is a driver-side store persisted as a single JSON file with
  * atomic replace (write-temp + ATOMIC_MOVE), not a distributed table —
  * same single-writer-per-dataset model as the reference (one pod per
  * dataset, SURVEY §3.1).
  */
trait StateStore {
  def get(key: String): Option[String]
  def set(key: String, value: String): Unit
  def delete(key: String): Unit
  def keys: Seq[String]

  /** `lib/dbhash.py:28-32` set_or_delete(None => delete). */
  def setOrDelete(key: String, value: Option[String]): Unit = value match {
    case Some(v) => set(key, v)
    case None => delete(key)
  }

  def keysWithPrefix(prefix: String): Seq[String] =
    keys.filter(_.startsWith(prefix)).sorted
}

/** In-memory store (the reference ships a dict-backed impl for tests —
  * `tests/test_dbhash.py` exercises dict/sqlite/postgres uniformly).
  */
final class MemoryStateStore extends StateStore {
  private val m = TrieMap.empty[String, String]
  def get(key: String): Option[String] = m.get(key)
  def set(key: String, value: String): Unit = m.update(key, value)
  def delete(key: String): Unit = m.remove(key)
  def keys: Seq[String] = m.keys.toSeq
}

/** File-backed store: one JSON object per file, replaced atomically so a
  * crash mid-write never corrupts state (the durability analogue of the
  * reference's Postgres transaction).
  */
final class FileStateStore(path: Path) extends StateStore {
  def this(path: String) = this(Paths.get(path))

  private def load(): collection.mutable.LinkedHashMap[String, String] =
    collection.mutable.LinkedHashMap.from(JsonCodec.read(path))

  def get(key: String): Option[String] = load().get(key)
  def set(key: String, value: String): Unit = {
    val m = load(); m.update(key, value); JsonCodec.write(path, m)
  }
  def delete(key: String): Unit = {
    val m = load(); m.remove(key); JsonCodec.write(path, m)
  }
  def keys: Seq[String] = load().keys.toSeq
}

/** Flat string-map JSON files (values and keys are opaque strings —
  * exactly the dbhash contract) over one Jackson mapper. Key order is
  * kept; a missing or blank file reads as the empty map (a zero-byte
  * snapshot reservation is blank); writes replace the file atomically
  * (write-temp + ATOMIC_MOVE).
  */
private[graft] object JsonCodec {
  private val mapper = new ObjectMapper()
  private val writer = mapper.writer(new DefaultPrettyPrinter(
    Separators.createDefaultInstance()
      .withObjectFieldValueSpacing(Separators.Spacing.AFTER)))
  private val mapType =
    new TypeReference[java.util.LinkedHashMap[String, String]] {}

  def renderObject(m: collection.Map[String, String]): String =
    writer.writeValueAsString(m.asJava)

  def read(path: Path): Seq[(String, String)] = {
    val text = if (Files.exists(path)) Files.readString(path) else ""
    if (text.isBlank) Nil else mapper.readValue(text, mapType).asScala.toSeq
  }

  def write(path: Path, m: collection.Map[String, String]): Unit = {
    if (path.getParent != null) Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.write(tmp, renderObject(m).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}
