package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The bench contract line must survive a log-tail parser: the final line
  * is valid JSON within [[Bench.ContractBudget]] whatever fails, and a
  * last-`{"metric"`-line scan recovers it from a real sbt log tail. */
class BenchContractTest extends AnyFunSuite {
  private val json = new ObjectMapper()

  /** The last line carrying a contract object, parsed from its brace — so
    * a log prefix and trailing build lines do not matter. */
  private def lastContract(log: String): JsonNode = {
    val line = log.linesIterator.filter(_.contains("{\"metric\"")).toSeq.last
    json.readTree(line.substring(line.indexOf("{\"metric\"")))
  }

  test("final contract line for 191 failed queries is valid JSON within budget") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.size == 191)
    val lines = Bench.contractLines(names.map(_ -> -1.0), 3, "/data/sf0.1")
    val last = lines.last
    assert(last.getBytes("UTF-8").length <= Bench.ContractBudget, last)
    val j = json.readTree(last)
    assert(j.get("metric").asText == "total" && j.get("value").asDouble == 0.0)
    val kept = j.get("failed").size
    assert(kept > 0 && kept + j.get("failed_omitted").asInt == 191)
    assert(j.get("queries").size == 0 && j.get("queries_omitted").asInt == 191)
    assert(json.readTree(lines.head).get("failed").size == 191, "full line lists every failure")
    assert(lastContract(lines.mkString("[info] ", "\n[info] ", "\n[success] done")) == j)
  }

  test("a passing run's final line keeps the costliest queries within budget") {
    val medians = SparkEntry.queries.keys.toSeq.sorted.zipWithIndex
      .map { case (n, i) => n -> (i + 1) / 100.0 }
    val last = Bench.contractLines(medians, 3, "/data/sf0.1").last
    assert(last.getBytes("UTF-8").length <= Bench.ContractBudget)
    val j = json.readTree(last)
    assert(j.get("failed").size == 0 && j.get("failed_omitted").asInt == 0)
    val kept = j.get("queries")
    assert(kept.size + j.get("queries_omitted").asInt == 191)
    assert(kept.has(medians.maxBy(_._2)._1), "the most expensive query is kept")
  }

  test("the round-14 bench log tail replays through a last-{\"metric\"-line scan") {
    val tail = json.readTree(new java.io.File("BENCH_r14.json")).get("tail").asText
    val j = lastContract(tail)
    assert(j.get("value").asDouble == 130.418)
    assert(j.get("queries_omitted").asInt == 140 && j.get("failed").size == 0)
  }
}
