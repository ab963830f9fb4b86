package graft

import org.scalatest.funsuite.AnyFunSuite

/** QBench resolves every leg name before it starts Spark. */
class QBenchSpec extends AnyFunSuite {

  test("an unknown leg name fails up front and is named") {
    val err = intercept[IllegalArgumentException] {
      QBench.main(Array("a4_keyed_sum", "no_such_leg", "pagerank_scaled"))
    }
    assert(err.getMessage == "requirement failed: unknown leg(s) no_such_leg: " +
      "not a SparkEntry query or a QBench harness leg")
  }
}
