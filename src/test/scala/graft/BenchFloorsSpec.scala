package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** Bench baselines are keyed by (sf, core count): [[Bench.previousMinWalls]]
  * reads only sources taken at this run's core count, and
  * [[Bench.writeFloorSnapshot]] merges only with a snapshot of the same sf
  * and cores, and never replaces one taken at another sf. Runs over a
  * temp directory, never the committed artifacts.
  */
class BenchFloorsSpec extends AnyFunSuite {
  private val Sf = "/data/sf0.1"

  private def write(dir: Path, name: String, body: String): Unit = {
    Files.write(dir.resolve(name), body.getBytes("UTF-8")); ()
  }

  private def text(dir: Path, name: String): String =
    new String(Files.readAllBytes(dir.resolve(name)), "UTF-8")

  /** The committed artifact shapes, one leg each, a distinct wall per
    * source so the merged map names the sources it came from.
    */
  private def fixture(): Path = {
    val dir = Files.createTempDirectory("bench_floors")
    write(dir, "BENCH_r19.json",
      """{"n": 19, "cpus": 32, "sf": 0.1, "parsed": {"metric": "total", "queries": {"a": 1.0, "_dropped_fastest": 3}}}""")
    write(dir, "BENCH_r18_floors.json", s"""{"queries_min":{"a":0.1,"b":0.1},"sf":"$Sf"}""")
    write(dir, "BENCH_r19_floors.json", s"""{"queries_min":{"a":2.0,"b":3.0},"sf":"$Sf","cores":32}""")
    write(dir, "BENCH_r20_floors.json", s"""{"queries_min":{"a":8.0,"b":9.0},"sf":"$Sf","cores":8}""")
    write(dir, "bench_diag.json",
      s"""{"queries_min":{"a":7.0,"c":6.0},"notes":["x"],"cores":8,"load1_start":1.000,"sf":"$Sf"}""")
    dir
  }

  test("32 cores reads only the 32-core sources") {
    val (floors, name) = Bench.previousMinWalls(fixture().toFile, Sf, 32)
    assert(floors == Map("a" -> 1.0, "b" -> 3.0))
    assert(name == "min(BENCH_r19.json (truncated slowest-legs subset), BENCH_r19_floors.json)")
  }

  test("8 cores reads only the 8-core sources") {
    val (floors, name) = Bench.previousMinWalls(fixture().toFile, Sf, 8)
    assert(floors == Map("a" -> 7.0, "b" -> 9.0, "c" -> 6.0))
    assert(name == "min(BENCH_r20_floors.json, bench_diag.json queries_min)")
  }

  test("an unseen core count compares against nothing") {
    val (floors, name) = Bench.previousMinWalls(fixture().toFile, Sf, 4)
    assert(floors.isEmpty)
    assert(name == "no baseline at 4 cores")
  }

  test("a source at another sf is not used") {
    val (floors, name) = Bench.previousMinWalls(fixture().toFile, "/data/sf0.01", 32)
    assert(floors.isEmpty)
    assert(name == "no baseline at 32 cores")
  }

  test("the floor snapshot records its cores and merges only at the same sf and cores") {
    val dir = Files.createTempDirectory("bench_floors")
    write(dir, "BENCH_r19.json", """{"n": 19, "cpus": 32, "sf": 0.1}""")
    Bench.writeFloorSnapshot(dir.toFile, Sf, 8, Map("a" -> 5.0, "b" -> 1.0))
    assert(text(dir, "BENCH_r20_c8_floors.json") ==
      s"""{"queries_min":{"a":5.000,"b":1.000},"sf":"$Sf","cores":8}""")
    // Same sf and cores: per-leg min with the existing snapshot.
    Bench.writeFloorSnapshot(dir.toFile, Sf, 8, Map("a" -> 4.0, "b" -> 2.0, "c" -> 3.0))
    assert(text(dir, "BENCH_r20_c8_floors.json") ==
      s"""{"queries_min":{"a":4.000,"b":1.000,"c":3.000},"sf":"$Sf","cores":8}""")
    // Another core count writes its own file and leaves this one alone.
    Bench.writeFloorSnapshot(dir.toFile, Sf, 32, Map("a" -> 9.0))
    assert(text(dir, "BENCH_r20_c32_floors.json") ==
      s"""{"queries_min":{"a":9.000},"sf":"$Sf","cores":32}""")
    assert(text(dir, "BENCH_r20_c8_floors.json") ==
      s"""{"queries_min":{"a":4.000,"b":1.000,"c":3.000},"sf":"$Sf","cores":8}""")
    // Another sf leaves the file untouched, and the note names the kept file.
    val note = Bench.writeFloorSnapshot(dir.toFile, "/data/sf0.01", 32, Map("b" -> 7.0))
    assert(text(dir, "BENCH_r20_c32_floors.json") ==
      s"""{"queries_min":{"a":9.000},"sf":"$Sf","cores":32}""")
    assert(note.exists(_.contains("BENCH_r20_c32_floors.json kept")), s"note: $note")
    // A same-sf snapshot that records no core count is replaced.
    write(dir, "BENCH_r20_c32_floors.json", s"""{"queries_min":{"a":0.5},"sf":"$Sf"}""")
    Bench.writeFloorSnapshot(dir.toFile, Sf, 32, Map("a" -> 9.0))
    assert(text(dir, "BENCH_r20_c32_floors.json") ==
      s"""{"queries_min":{"a":9.000},"sf":"$Sf","cores":32}""")
  }

  test("a 4-core snapshot next to the old-named 8-core floors leaves them intact; each run reads its own") {
    val dir = fixture()
    val eight = text(dir, "BENCH_r20_floors.json")
    Bench.writeFloorSnapshot(dir.toFile, Sf, 4, Map("a" -> 0.7, "d" -> 0.2))
    assert(text(dir, "BENCH_r20_floors.json") == eight)
    assert(text(dir, "BENCH_r20_c4_floors.json") ==
      s"""{"queries_min":{"a":0.700,"d":0.200},"sf":"$Sf","cores":4}""")
    assert(Bench.previousMinWalls(dir.toFile, Sf, 4) ==
      (Map("a" -> 0.7, "d" -> 0.2), "BENCH_r20_c4_floors.json (sole floor source)"))
    assert(Bench.previousMinWalls(dir.toFile, Sf, 8)._2 ==
      "min(BENCH_r20_floors.json, bench_diag.json queries_min)")
  }
}
