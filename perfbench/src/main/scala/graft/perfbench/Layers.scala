package graft.perfbench

import java.net.InetSocketAddress
import java.util.concurrent.ConcurrentHashMap

import com.sun.net.httpserver.HttpServer
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.datasets.DatasetSpec
import graft.ingest.SourceSpec
import graft.state.{HttpCheck, HttpClient, StateStore}

/** The boundary into one layer: a span, and a tag on every Spark job
  * the layer submits, both naming the pass, the layer and the operation.
  */
final class Recorder(val tracer: Tracer, sc: SparkContext) {
  def tag(layer: String): String = s"${tracer.pass}|$layer|${tracer.op}"
  def layer[A](name: String)(body: => A): A =
    SparkStats.tagged(sc, tag(name))(tracer.span(name)(body))
}

object Recorder {
  final case class Tag(pass: Int, layer: String, op: String)
  def parse(tag: String): Option[Tag] = tag.split('|') match {
    case Array(p, l, o) => Some(Tag(p.toInt, l, o))
    case _ => None
  }
}

/** Spans around the loader's pluggable layers. Each wrapper delegates to
  * the production implementation and adds nothing but a span, a job tag
  * and a count.
  */
final class TimedHttpClient(inner: HttpClient, rec: Recorder) extends HttpClient {
  def check(url: String, headers: Map[String, String]): HttpCheck = {
    val r = rec.layer("state.preflight")(inner.check(url, headers))
    rec.tracer.add("state.preflight_checks")
    if (r.status == 304) rec.tracer.add("state.unchanged")
    r
  }
}

final class TimedStateStore(inner: StateStore, rec: Recorder) extends StateStore {
  private def timed[A](body: => A): A = {
    rec.tracer.add("state.store_ops")
    rec.layer("state.store")(body)
  }
  def get(key: String): Option[String] = timed(inner.get(key))
  def set(key: String, value: String): Unit = timed(inner.set(key, value))
  def delete(key: String): Unit = timed(inner.delete(key))
  def keys: Seq[String] = timed(inner.keys)
}

final class TimedSource(inner: SourceSpec, rec: Recorder) extends SourceSpec {
  def name: String = inner.name
  def read(spark: SparkSession): DataFrame = {
    rec.tracer.add("ingest.sources_read")
    rec.layer("ingest.read")(inner.read(spark))
  }
}

object TimedDataset {
  /** `ds` with one URL on `server`, timed sources and timed derived
    * functions.
    */
  def apply(ds: DatasetSpec, server: EtagServer, rec: Recorder): DatasetSpec =
    ds.copy(
      urls = Seq(server.url(ds.name)),
      sources = ds.sources.map(new TimedSource(_, rec)),
      derived = ds.derived.map { case (table, f) =>
        table -> ((s: SparkSession, base: Map[String, DataFrame]) =>
          rec.layer("datasets.derive")(f(s, base)))
      })
}

/** Loopback HTTP server that gives each dataset URL an ETag and answers
  * a matching `If-None-Match` with 304 — the conditional GET the
  * loader's pre-flight issues against real sources. [[bump]] marks a
  * dataset's source as changed.
  */
final class EtagServer {
  private val versions = new ConcurrentHashMap[String, Integer]()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/ds/", exchange => {
    val name = exchange.getRequestURI.getPath.stripPrefix("/ds/")
    val etag = this.etag(name)
    val status =
      if (Option(exchange.getRequestHeaders.getFirst("If-None-Match")).contains(etag)) 304
      else 200
    exchange.getResponseHeaders.add("ETag", etag)
    exchange.sendResponseHeaders(status, -1)
    exchange.close()
  })
  server.start()

  def url(name: String): String =
    s"http://127.0.0.1:${server.getAddress.getPort}/ds/$name"

  def etag(name: String): String = "\"v" + versions.getOrDefault(name, 0) + "\""

  def bump(name: String): Unit = versions.merge(name, 1, (a, b) => a + b)

  /** Stops the listener and waits for its dispatcher thread to end. */
  def stop(): Unit = server.stop(0)
}
