package graft

import java.nio.file.Files
import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

import graft.state._

/** KV store contract shared across impls — mirrors
  * `tests/test_dbhash.py:6-64` (same suite run against dict/sqlite/pg).
  */
class StateSpec extends AnyFunSuite {

  def contract(name: String, mk: () => StateStore): Unit = {
    test(s"$name: get on missing key is None") {
      assert(mk().get("nope").isEmpty)
    }
    test(s"$name: set then get round-trips") {
      val s = mk(); s.set("k", "v1"); assert(s.get("k").contains("v1"))
      s.set("k", "v2"); assert(s.get("k").contains("v2")) // upsert
    }
    test(s"$name: delete removes; deleting missing is a no-op") {
      val s = mk(); s.set("k", "v"); s.delete("k")
      assert(s.get("k").isEmpty)
      s.delete("k")
    }
    test(s"$name: setOrDelete(None) deletes") {
      val s = mk(); s.set("k", "v")
      s.setOrDelete("k", None); assert(s.get("k").isEmpty)
      s.setOrDelete("k", Some("x")); assert(s.get("k").contains("x"))
    }
    test(s"$name: keysWithPrefix filters and sorts") {
      val s = mk()
      s.set("etag:http://b", "1"); s.set("etag:http://a", "2"); s.set("z", "3")
      assert(s.keysWithPrefix("etag:") === Seq("etag:http://a", "etag:http://b"))
    }
  }

  contract("memory", () => new MemoryStateStore)
  contract("file", () => new FileStateStore(
    Files.createTempDirectory("graft-state").resolve("state.json")))

  test("file in the current format (escaped quote, newline, \\u0001) " +
      "reads back unchanged") {
    val text = "{\n" +
      "  \"etag:http://a\": \"\\\"v1\\\"\",\n" +
      "  \"note\": \"line1\\nline2\\u0001end\"\n" +
      "}"
    val p = Files.createTempDirectory("graft-state").resolve("s.json")
    Files.write(p, text.getBytes("UTF-8"))
    val store = new FileStateStore(p)
    assert(store.keys === Seq("etag:http://a", "note"))
    assert(store.get("etag:http://a").contains("\"v1\""))
    assert(store.get("note").contains("line1\nline2\u0001end"))
    assert(JsonCodec.renderObject(
      collection.immutable.ListMap.from(JsonCodec.read(p))) === text)
  }

  test("file store persists across instances (durability)") {
    val p = Files.createTempDirectory("graft-state").resolve("s.json")
    new FileStateStore(p).set("etag:u", "\"quoted\"\nvalue\twithctrl")
    assert(new FileStateStore(p).get("etag:u")
      .contains("\"quoted\"\nvalue\twithctrl"))
  }

  test("UrlModTracker: 200 => changed, validators committed, then 304 => unchanged") {
    // mirrors tests/test_lastmod.py:7-68 (mocked 200/304 responses)
    val store = new MemoryStateStore
    var seenHeaders: Map[String, String] = null
    var response = HttpCheck(200, Some("W/\"abc\""), Some("Mon, 01 Jan 2024 00:00:00 GMT"))
    val http = new HttpClient {
      def check(url: String, headers: Map[String, String]): HttpCheck = {
        seenHeaders = headers; response
      }
    }
    val t = new UrlModTracker(Seq("http://x/data.csv"), store, http)
    assert(t.didAnyUrlsChange())
    assert(seenHeaders.isEmpty) // no validators yet -> unconditional
    t.updateLastmods()
    assert(store.get("etag:http://x/data.csv").contains("W/\"abc\""))
    assert(store.get("last_modified:http://x/data.csv")
      .contains("Mon, 01 Jan 2024 00:00:00 GMT"))

    response = HttpCheck(304, None, None)
    val t2 = new UrlModTracker(Seq("http://x/data.csv"), store, http)
    assert(!t2.didAnyUrlsChange())
    assert(seenHeaders === Map(
      "If-None-Match" -> "W/\"abc\"",
      "If-Modified-Since" -> "Mon, 01 Jan 2024 00:00:00 GMT"))
  }

  test("UrlModTracker: 500 counts as changed; 304 does not clobber validators") {
    val store = new MemoryStateStore
    store.set("etag:u", "old")
    val http = new HttpClient {
      def check(url: String, headers: Map[String, String]) = HttpCheck(500, None, None)
    }
    val t = new UrlModTracker(Seq("u"), store, http)
    assert(t.didAnyUrlsChange()) // non-304 => reload (lastmod.py:49-62)
  }

  test("UrlModTracker: validators not persisted until updateLastmods (crash safety)") {
    val store = new MemoryStateStore
    val http = new HttpClient {
      def check(url: String, headers: Map[String, String]) =
        HttpCheck(200, Some("new"), None)
    }
    val t = new UrlModTracker(Seq("u"), store, http)
    t.didAnyUrlsChange()
    assert(store.get("etag:u").isEmpty) // a crashed load must retry
  }

  test("DatasetTracker stamps frozen-clock America/New_York ISO time") {
    // mirrors tests/test_dataset_tracker.py:13-22
    val store = new MemoryStateStore
    val frozen = Instant.parse("2024-01-15T17:30:00Z")
    new DatasetTracker(store, () => frozen).updateTracker("hpd_violations")
    assert(new DatasetTracker(store).lastUpdated("hpd_violations")
      .contains("2024-01-15T12:30:00-05:00")) // EST = UTC-5
  }
}
