package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.guardedLeg]]: once JVM shutdown has begun, no leg is measured
  * or recorded (Spark has stopped its context, so it could only fail),
  * and the leg loop ends. No Spark session: the measure is a stand-in.
  */
class BenchKillSpec extends AnyFunSuite {
  private val sample = (Bench.Sample(1.0, 1.0, 0L, 0.0, 0.0, 0), 1.0)

  test("a leg runs and is recorded while shutdown has not begun") {
    var recorded = Seq.empty[(Bench.Sample, Double)]
    Bench.guardedLeg(new AtomicBoolean(false), "a")(sample)(r => recorded :+= r)
    assert(recorded == Seq(sample))
  }

  test("after shutdown began, a leg is neither measured nor recorded, and the loop ends") {
    var measured = false
    var recorded = false
    val e = intercept[IllegalStateException] {
      Bench.guardedLeg(new AtomicBoolean(true), "a") { measured = true; sample } { _ => recorded = true }
    }
    assert(!measured && !recorded)
    assert(e.getMessage.contains("leg a"))
  }

  test("a leg that shutdown interrupted is not recorded") {
    val stopping = new AtomicBoolean(false)
    var recorded = false
    intercept[IllegalStateException] {
      Bench.guardedLeg(stopping, "a") {
        stopping.set(true) // the hook fires mid-leg; the run then fails
        (Bench.Sample(-1.0, -1.0, 0L, 0.0, 0.0, 0, Some("stopped SparkContext")), -1.0)
      } { _ => recorded = true }
    }
    assert(!recorded)
  }
}
