package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The bench's final stdout line is read by tooling from the last ~2 KB of
  * output: its keys, their order and their JSON types are a contract, and
  * the line must stay parseable at the full query count and under any
  * default locale.
  */
class BenchLineSpec extends AnyFunSuite {

  private val keys = Seq("metric", "value", "unit", "queries", "queries_omitted", "n",
    "wall_min_sum", "proc_cpu", "task_sec", "other_cpu", "attempts", "contended",
    "sentinel", "serving_sec_per_search", "drift_flags_n", "drift_floor_ratio",
    "cpus", "detail", "sf")

  // 186 queries with long names: the per-query map must cap itself
  private val results = (0 until 186).map { i =>
    Bench.Measured(f"q_a_rather_long_query_name_for_the_bench_$i%03d", wall = 0.5 + i * 0.013,
      procCpu = 1.25, taskSec = 2.5, gcMs = 7, rows = i.toLong,
      wallMin = 0.4 + i * 0.01, taskMin = 2.0, cpuMin = 1.0)
  }
  private val serving = Seq("bm25_index" -> 0.0123, "ann_index" -> 0.0456,
    "bm25_session" -> 0.0789)

  private def line(): String =
    Bench.compactLine(results, serving, iters = 3, cpus = "4",
      detail = "BENCH_DETAIL_c4.json", sf = "sf0.1")

  private def parse(s: String): JsonNode = new ObjectMapper().readTree(s)

  test("compact line: key set and order, and every value's JSON type") {
    val j = parse(line())
    assert(j.fieldNames().asScala.toSeq == keys)
    assert(j.get("metric").asText == "total" && j.get("unit").asText == "sec")
    Seq("value", "wall_min_sum", "proc_cpu", "task_sec", "other_cpu", "drift_floor_ratio")
      .foreach(k => assert(j.get(k).isNumber && !j.get(k).isIntegralNumber, k))
    Seq("queries_omitted", "n", "attempts", "drift_flags_n", "cpus")
      .foreach(k => assert(j.get(k).isIntegralNumber, k))
    Seq("detail", "sf").foreach(k => assert(j.get(k).isTextual, k))
    Seq("queries", "serving_sec_per_search").foreach { k =>
      assert(j.get(k).isObject, k)
      assert(j.get(k).elements().asScala.forall(_.isNumber), k)
    }
    assert(j.get("contended").isArray)

    assert(j.get("n").asInt == 186)
    assert(j.get("queries").size + j.get("queries_omitted").asInt == 186)
    assert(math.abs(j.get("value").asDouble - results.map(_.wall).sum) < 1e-3)
    assert(math.abs(j.get("wall_min_sum").asDouble - results.map(_.wallMin).sum) < 1e-3)
    // the map keeps the slowest queries
    val kept = j.get("queries").fieldNames().asScala.toSet
    assert(kept == results.sortBy(-_.wall).take(kept.size).map(_.name).toSet)
    assert(j.get("serving_sec_per_search").get("ann_index").asDouble == 0.0456)
    assert(j.get("cpus").asInt == 4)
  }

  test("compact line: the retired contention, sentinel and drift fields print no finding") {
    val j = parse(line())
    assert(j.get("sentinel").isNull)
    assert(j.get("contended").size == 0)
    assert(j.get("other_cpu").asDouble == 0.0)
    assert(j.get("drift_flags_n").asInt == 0)
    assert(j.get("drift_floor_ratio").asDouble == 1.0)
    assert(j.get("attempts").asInt == 186 * 3)
    val raw = line()
    assert(raw.contains(""""other_cpu":0.0000,"""))
    assert(raw.contains(""""drift_floor_ratio":1.0000,"""))
  }

  test("compact line: at most 1.5 KB for 186 long query names") {
    val raw = line()
    assert(raw.getBytes("UTF-8").length <= 1536, s"${raw.length} bytes")
    assert(!raw.contains("\n"))
  }

  test("compact line: dot decimals under a de_DE default locale") {
    val prior = java.util.Locale.getDefault
    val raw = try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      line()
    } finally java.util.Locale.setDefault(prior)
    assert(raw == line())
    assert(raw.matches(""".*"value":\d+\.\d{4},.*"""))
    assert(parse(raw).fieldNames().asScala.toSeq == keys)
  }
}
