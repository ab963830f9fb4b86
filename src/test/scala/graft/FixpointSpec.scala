package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftInternals
import org.apache.spark.sql.util.QueryExecutionListener
import graft.graph.{ConnectedComponents, Fixpoint, Hits, LabelPropagation, PageRank, SyntheticGraph}
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

  test("PageRank job shape: prepare runs 6 jobs, runOn 2 + 1 per iteration") {
    // 300 vertices: the rank state stays under the broadcast threshold, so
    // a broadcast of it would show here as one more job per iteration.
    val edges = SyntheticGraph.powerLaw(spark, 300, 2000)
    var g: PageRank.PreparedGraph = null
    assert(jobsOf { g = PageRank.prepare(edges) } == 6)
    try for (i <- Seq(1, 4, 8)) {
      // runOn: the init round's join + action, then per iteration one job
      // (the per-dst sums' shuffle, the merge and the fused (delta, live
      // mass) scalar).
      val jobs = jobsOf {
        val r = PageRank.runOn(spark, g, PageRank.Params(delta = 0.0, maxIter = i))
        assert(r.iterations == i)
        r.release()
      }
      assert(jobs == 2 + i, s"at $i iterations")
    } finally g.unpersist()
  }

  test("PageRank.fixedIterationsOn job shape: 1 + 1 per iteration") {
    val g = PageRank.prepare(SyntheticGraph.powerLaw(spark, 300, 2000))
    // The init round's count, then one job per iteration.
    try for (i <- Seq(1, 4, 8)) {
      val jobs = jobsOf(PageRank.release(PageRank.fixedIterationsOn(spark, g, 0.85, i)))
      assert(jobs == 1 + i, s"at $i iterations")
    } finally g.unpersist()
  }

  test("a PageRank round over placed edges joins in place: one exchange, no broadcast") {
    val edges = SyntheticGraph.powerLaw(spark, 300, 2000)
    val parts = 4
    val rounds = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") rounds.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val (verts, linked) = Fixpoint.withLoopConf(spark, parts) {
      val verts = PageRank.vertices(edges).persist()
      (verts, Fixpoint.placed(edges.join(PageRank.outDegrees(edges), "src"), parts, "src"))
    }
    val g = PageRank.PreparedGraph(verts, linked, verts.count(), parts)
    GraftInternals.drainListenerBus(spark)
    spark.listenerManager.register(listener)
    try {
      val r = PageRank.runOn(spark, g, PageRank.Params(delta = 0.0, maxIter = 3))
      GraftInternals.drainListenerBus(spark)
      try r.ranks.queryExecution.executedPlan.outputPartitioning match {
        case HashPartitioning(Seq(key: Attribute), n) => assert(key.name == "id" && n == parts)
        case other => fail(s"the final ranks report $other")
      } finally r.release()
    } finally { spark.listenerManager.unregister(listener); g.unpersist() }
    // Round 0 builds the state; rounds 1-3 are the iterations.
    val plans = rounds.asScala.toSeq
    assert(plans.size == 4)
    for ((plan, i) <- plans.drop(1).zipWithIndex) {
      assert(plan.collect { case b: BroadcastExchangeExec => b }.isEmpty, s"round ${i + 1}:\n$plan")
      val exchanges = plan.collect { case e: Exchange => e }
      assert(exchanges.size == 1, s"round ${i + 1}:\n$plan")
      exchanges.head.outputPartitioning match {
        case HashPartitioning(Seq(key: Attribute), n) => assert(key.name == "dst" && n == parts)
        case other => fail(s"round ${i + 1} exchanges to $other")
      }
      assert(plan.collect { case j: ShuffledHashJoinExec => j }.size == 2,
        s"round ${i + 1}:\n$plan")
    }
  }

  test("HITS job shape: 9 fixed jobs + 1 per half-step") {
    val edges = SyntheticGraph.powerLaw(spark, 300, 2000)
    // Two half-steps per iteration.
    for (i <- Seq(1, 2, 4)) {
      val jobs = jobsOf(GraftInternals.freeLocalCheckpoint(Hits.fixedIterations(spark, edges, i)))
      assert(jobs == 9 + 2 * i, s"at $i iterations")
    }
  }

  test("LabelPropagation.run job shape: 6 fixed jobs + 1 per round") {
    // A path's labels keep moving for as many rounds as it is long, so
    // no run here stops early.
    val path = (1L to 40L).map(i => (i, i + 1)).toDF("src", "dst")
    for (r <- Seq(1, 2, 4, 8)) {
      val jobs = jobsOf(GraftInternals.freeLocalCheckpoint(LabelPropagation.run(path, r)))
      assert(jobs == 6 + r, s"at $r rounds")
    }
  }

  test("placed frees its persist when materializing the input throws") {
    val dir = java.nio.file.Files.createTempDirectory("graft-placed-throw")
    val f = dir.resolve("edges.txt")
    java.nio.file.Files.writeString(f, "1\t2\n3\tnot_a_number\n")
    spark.catalog.clearCache()
    val before = RddScope.persisted(spark)
    val in = PageRank.edgesFromText(spark, f.toString)
    intercept[org.apache.spark.SparkException] {
      Fixpoint.withLoopConf(spark, 4)(Fixpoint.placed(in, 4, "src"))
    }
    assert(noCachedPlans, "placed's persist outlived the throw")
    assert(RddScope.persisted(spark) == before)
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
