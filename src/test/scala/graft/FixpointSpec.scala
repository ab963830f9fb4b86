package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftInternals
import graft.graph.{ConnectedComponents, Fixpoint, PageRank, SyntheticGraph}
import graft.graph.Fixpoint.Round

/** The shared round loop: its failure path, its guard, and the per-round
  * job shape of the loops built on it.
  */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  private def conf = (
    spark.conf.get("spark.sql.shuffle.partitions"),
    spark.conf.get("spark.sql.adaptive.enabled"))

  /** A loop over (id) whose round r adds r to every id. */
  private def countingLoop(maxRounds: Int)(
      boom: Int => Unit): (DataFrame, Long, Int) =
    Fixpoint.withLoopConf(spark, 1) {
      Fixpoint.iterate(Round(spark.range(20).toDF("id"), (s: DataFrame) => s.count()),
        maxRounds, "counting loop") { (state, _, r) =>
        boom(r)
        Some(Round(state.select((col("id") + r).as("id")),
          (s: DataFrame) => { boom(-r); s.count() }))
      }
    }

  test("a round that throws frees every live checkpoint and restores the loop conf") {
    val confBefore = conf
    // Throw in the step that builds round 3, then in round 3's action.
    for (where <- Seq(3, -3)) {
      val before = RddScope.persisted(spark)
      val err = intercept[IllegalStateException] {
        countingLoop(10)(r => if (r == where) throw new IllegalStateException(s"boom at $r"))
      }
      assert(err.getMessage == s"boom at $where")
      assert(RddScope.persisted(spark) == before,
        s"checkpoints left after a throw at $where: ${RddScope.persisted(spark) -- before}")
      assert(conf == confBefore)
    }
  }

  test("exceeding the round guard raises the guard's require message, leak-free") {
    val before = RddScope.persisted(spark)
    val err = intercept[IllegalArgumentException](countingLoop(4)(_ => ()))
    assert(err.getMessage == "requirement failed: counting loop did not converge within 4 rounds")
    assert(RddScope.persisted(spark) == before)
  }

  test("a converged loop returns its last round and holds only that checkpoint") {
    val before = RddScope.persisted(spark)
    val (state, n, rounds) = Fixpoint.iterate(
      Round(spark.range(5).toDF("id"), (s: DataFrame) => s.count()), 3, "three rounds") {
      (state, _, r) =>
        if (r == 3) None
        else Some(Round(state.union(state), (s: DataFrame) => s.count()))
    }
    assert(rounds == 3 && n == 40 && state.count() == 40)
    assert((RddScope.persisted(spark) -- before) == GraftInternals.checkpointRddIds(state))
    GraftInternals.freeLocalCheckpoint(state)
    assert(RddScope.persisted(spark) == before)
  }

  test("no file under graft/graph reads an environment variable") {
    val dir = new java.io.File("src/main/scala/graft/graph")
    val files = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".scala"))
    assert(files.nonEmpty, s"no sources under ${dir.getAbsolutePath}")
    val readers = files.filter { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.mkString.matches("(?s).*(sys\\.env|System\\.getenv).*") finally src.close()
    }
    assert(readers.isEmpty, s"env reads in: ${readers.map(_.getName).mkString(", ")}")
  }

  /** Driver jobs started by `body`, counted after the listener bus drains. */
  private def jobsOf(body: => Unit): Int = {
    GraftInternals.drainListenerBus(spark)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; GraftInternals.drainListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  test("PageRank job shape: prepare runs 6 jobs, runOn 2 + 2 per iteration") {
    // 300 vertices: the rank state stays under the broadcast threshold.
    val edges = SyntheticGraph.powerLaw(spark, 300, 2000)
    var g: PageRank.PreparedGraph = null
    assert(jobsOf { g = PageRank.prepare(edges) } == 6)
    try for (i <- Seq(1, 4, 8)) {
      // The init round's join + action, then per iteration one broadcast
      // of the rank state and one fused (delta, live mass) aggregate.
      val jobs = jobsOf {
        val r = PageRank.runOn(spark, g, PageRank.Params(delta = 0.0, maxIter = i))
        assert(r.iterations == i)
        r.release()
      }
      assert(jobs == 2 + 2 * i, s"at $i iterations")
    } finally g.unpersist()
  }

  test("ConnectedComponents.run job shape: 8 fixed jobs + 7 per round") {
    def jobs(pairs: DataFrame): Int =
      jobsOf(GraftInternals.freeLocalCheckpoint(ConnectedComponents.run(pairs)))
    // The counts follow from the plan shapes (a round's star joins plan
    // as broadcasts, each a job); any job the loop adds shows here.
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    assert(jobs(star) == 8 + 7 * 2) // converges in 2 rounds
    val chain = (1L to 16L).map(i => (i, i + 1)).toDF("a", "b")
    assert(jobs(chain) == 8 + 7 * 5) // converges in 5 rounds
  }
}
