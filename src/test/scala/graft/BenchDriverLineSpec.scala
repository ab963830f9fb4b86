package graft

import java.nio.file.Files

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** [[Bench.buildDriverLine]]: failed legs stay named in a top-level
  * `"failed"` list that truncation never drops, and the truncation count
  * sits outside `queries`, where it would read as a leg's wall.
  */
class BenchDriverLineSpec extends AnyFunSuite {
  private def parse(line: String): JsonNode = new ObjectMapper().readTree(line)

  private def queries(j: JsonNode): Map[String, Double] =
    j.get("queries").fields().asScala.map(e => e.getKey -> e.getValue.asDouble).toMap

  private def failed(j: JsonNode): Seq[String] =
    j.get("failed").elements().asScala.map(_.asText).toSeq

  test("a line that fits keeps every leg and names the failed ones") {
    val j = parse(Bench.buildDriverLine(
      Seq("a" -> 1.5, "b" -> -1.0, "c" -> 0.25), "0.1", partial = true))
    assert(queries(j) == Map("a" -> 1.5, "b" -> -1.0, "c" -> 0.25))
    assert(failed(j) == Seq("b"))
    assert(j.get("value").asDouble == 1.75)
    assert(j.get("partial").asBoolean)
    assert(!j.has("_dropped_fastest"))
    assert(failed(parse(Bench.buildDriverLine(Seq("a" -> 1.0), "0.1", partial = false))).isEmpty)
  }

  test("an overflowing line keeps the slowest legs, names every failed leg, " +
      "and counts the dropped ones outside queries") {
    val ran = (1 to 120).map(i => f"leg_with_a_long_name_$i%03d" -> i.toDouble)
    val walls = ran ++ Seq("failed_one" -> -1.0, "failed_two" -> -1.0)
    val line = Bench.buildDriverLine(walls, "0.1", partial = false)
    assert(line.length <= 1800, line.length)
    val j = parse(line)
    val kept = queries(j)
    assert(!kept.keySet.exists(_.startsWith("_")), kept.keySet)
    assert(failed(j) == Seq("failed_one", "failed_two"))
    val dropped = j.get("_dropped_fastest").asInt
    assert(dropped > 0 && kept.size + dropped == ran.size)
    assert(kept.keySet == ran.sortBy(-_._2).take(kept.size).map(_._1).toSet)
    assert(j.get("full").asText == "bench_partial.json")
    assert(j.get("value").asDouble == ran.map(_._2).sum)
  }

  test("the floor reader recognises a top-level truncation marker") {
    val dir = Files.createTempDirectory("bench_line")
    val line = Bench.buildDriverLine(
      (1 to 120).map(i => f"leg_with_a_long_name_$i%03d" -> i.toDouble), "0.1", partial = false)
    Files.write(dir.resolve("BENCH_r30.json"),
      s"""{"n": 30, "cpus": 4, "sf": 0.1, "parsed": $line}""".getBytes("UTF-8"))
    val (floors, name) = Bench.previousMinWalls(dir.toFile, "/data/sf0.1", 4)
    assert(name == "BENCH_r30.json (truncated slowest-legs subset) (sole floor source)")
    assert(floors == queries(parse(line)))
  }
}
