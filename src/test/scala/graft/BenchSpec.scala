package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import org.apache.spark.sql.functions._

/** The bench's timed call and its one-line stdout JSON. */
class BenchSpec extends SparkSpec {

  private val json = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  test("the timed call runs the full result: a failure in an unread column fails it") {
    val df = spark.range(3).select(col("id"),
      assert_true(col("id") < 0).as("check"))
    // count() reads no column, so Catalyst prunes the failing one away
    assert(df.count() === 3)
    assert(Bench.time("check")(df).failed)
  }

  test("stdout line for all registered queries at 9999.999 s fits ~2000 chars") {
    val names = SparkEntry.queries.keys.toSeq
    val sf = "/" + "d" * 79
    val l = Bench.line(names.map(Bench.Timing(_, 9999.999, failed = false)), sf)
    assert(l.length < 2000, s"${l.length} chars")
    val node = json.readTree(l)
    assert(node.fieldNames.asScala.toSet ===
      Set("metric", "value", "unit", "n", "n_failed", "queries", "sf"))
    assert(node.get("n").asInt === names.size)
    assert(node.get("n_failed").asInt === 0)
    assert(node.get("sf").asText === sf)
    // every headline name is a registered query, so all of them print
    assert(node.get("queries").fieldNames.asScala.toSeq === Bench.headline)
  }

  test("a failing query counts in n_failed and is left out of value") {
    val ok = Bench.time("q0_flagship_bldgs")(spark.range(3).toDF())
    val bad = Bench.time("a1_group_count")(
      spark.range(3).select(assert_true(col("id") < 0)))
    assert(!ok.failed && bad.failed)
    val node = json.readTree(Bench.line(Seq(ok, bad), sf))
    assert(node.get("n").asInt === 2)
    assert(node.get("n_failed").asInt === 1)
    assert(node.get("value").asDouble === f"${ok.sec}%.3f".toDouble)
    assert(node.get("queries").fieldNames.asScala.toSeq === Seq("q0_flagship_bldgs"))
  }
}
