package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Bench's stdout line is the driver's contract: it must fit the last
  * 2000 characters of stdout the driver keeps, and parse as one object.
  */
class BenchReportSpec extends AnyFunSuite {

  private val json = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  private def parse(s: String): JsonNode = {
    val node = json.readTree(s)
    assert(node.isObject, s)
    node
  }

  test("the stdout line stays under the driver's tail at worst-case widths and parses") {
    // every query, rep and plan at 99999.999 s, full steal, a long path
    val worst = 99999.999
    val reps = 5
    val stages = Seq("shuffle" -> 999, "broadcast" -> 999, "result" -> 999)
    val (line, detail) = Bench.report("/data/benchmarks/spark-graft/scale-factor-0.1/sf0.1", reps,
      Bench.headline.map(_ -> worst), Bench.headline.map(_ -> Seq.fill(reps)(worst)), Some(1.0),
      Bench.headline.map(_ -> stages))
    assert(Bench.headline.length == 26)
    assert(line.length < 2000, s"${line.length} characters")
    val l = parse(line)
    for (k <- Seq("metric", "value", "unit", "exec_total", "queries", "host_steal_ratio"))
      assert(l.has(k), s"line lacks $k")
    assert(l.get("queries").fieldNames().asScala.toSeq == Bench.headline)
    assert(l.get("schema_version").asInt == 4)
    val d = parse(detail)
    assert(d.get("rep_times").get("q1_pricing_summary").size == reps)
    assert(d.get("spread_minmax").size == 26)
    assert(!l.has("query_stages"))
    val q1 = d.get("query_stages").get("q1_pricing_summary")
    assert(q1.fieldNames().asScala.toSeq == Seq("shuffle", "broadcast", "result"))
    assert(q1.get("result").asInt == 999)
  }

  test("a query without reps records -1 and stays out of exec_total; steal may be unknown") {
    val (line, detail) = Bench.report("sf", 3, Seq("a" -> 0.5, "b" -> 0.25),
      Seq("a" -> Seq(3.0, 1.0, 2.0), "b" -> Seq.empty), None)
    val l = parse(line)
    assert(l.get("queries").get("a").asDouble == 2.0)
    assert(l.get("queries").get("b").asDouble == -1.0)
    assert(l.get("exec_total").asDouble == 2.0)
    assert(l.get("value").asDouble == 2.75)
    assert(l.get("host_steal_ratio").isNull)
    val spread = parse(detail).get("spread_minmax").get("a")
    assert(spread.get(0).asDouble == 1.0 && spread.get(1).asDouble == 3.0)
  }
}
