package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.GraftInternals
import graft.graph.{ConnectedComponents, LabelPropagation, PageRank, PageRankGraphX, SyntheticGraph}

/** Scale-ceiling probe: the three production graph loops — PageRank-DF,
  * label propagation, star-contraction connected components — at 2M, 20M
  * and 100M power-law edges on local[32]/128 GiB, with executor CPU and
  * SPILL BYTES recorded per run. This answers "would the loop shapes
  * survive 100×?" with data: the wall/cpu curve shows where scaling stops
  * being linear, the spill column shows where partitions stop fitting in
  * memory, and an OOM/failure at a point IS the documented ceiling.
  * Results are tabulated in README §scale. GraphX rides along at the two
  * smaller points as the crossover reference (its 100M cost is RDD-path
  * dominated and was already characterized at 20M).
  *
  * The session shuffle-partition cap SCALES WITH THE POINT
  * (max(32, |E|/250k) — 32/80/400 at 2M/20M/100M), mirroring how a real
  * cluster's session cap grows with executor count; the graph loops
  * already derive their partitioning from |E| (`Fixpoint.loopPartitions`)
  * but respect the session cap, so an undersized fixed cap is a harness
  * artifact, not an operator property. The first XL run (fixed 32
  * partitions, 8 GiB heap) demonstrated exactly that: LPA and CC — whose
  * loops shuffle |E|-sized relations, unlike PageRank's |V|-sized rank
  * map — died with AGGREGATE_OUT_OF_MEMORY at 100M edges, i.e. ~6M
  * hash-agg rows per task inside ~250 MB of per-task execution memory.
  * Both outcomes are recorded in the README table.
  *
  *   SPARK_DRIVER_MEM=48g sbt "runMain graft.AbScaledXl"   # all points
  *   XL_POINTS=2000000 XL_ITERS=5 ...                      # override
  */
object AbScaledXl {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val iters = sys.env.getOrElse("XL_ITERS", "5").toInt
    val points = sys.env.getOrElse("XL_POINTS", "2000000,20000000,100000000")
      .split(",").map(_.trim.toLong).toSeq
    // Optional leg filter (comma-separated labels) so one loop's missing
    // point can be filled without re-running the whole sweep.
    val legs: String => Boolean = sys.env.get("XL_LEGS") match {
      case Some(s) => s.split(",").map(_.trim).toSet
      case None => _ => true
    }
    val params = PageRank.Params(beta = 0.85, delta = 0.0, maxIter = iters)

    val cpuNs = new AtomicLong(0L)
    val spillBytes = new AtomicLong(0L)
    sc.addSparkListener(new SparkListener {
      override def onStageCompleted(done: SparkListenerStageCompleted): Unit = {
        val m = done.stageInfo.taskMetrics
        if (m != null) {
          cpuNs.addAndGet(m.executorCpuTime)
          spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          ()
        }
      }
    })
    def sweep(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    def measure(label: String, nv: Long, ne: Long)(body: => Long): Unit = {
      if (!legs(label)) return
      GraftInternals.drainListenerBus(spark)
      cpuNs.set(0L); spillBytes.set(0L)
      val t0 = System.nanoTime()
      val ok = try { val rows = body; require(rows > 0); true }
        catch { case t: Throwable =>
          println(s"XL $label verts=$nv edges=$ne FAILED: ${t.getClass.getSimpleName} ${String.valueOf(t.getMessage).take(160)}")
          false
        }
      val wall = (System.nanoTime() - t0) / 1e9
      GraftInternals.drainListenerBus(spark)
      if (ok) println(f"XL $label%-8s verts=$nv%9d edges=$ne%10d iters=$iters " +
        f"wall=$wall%8.2f s cpu=${cpuNs.get() / 1e9}%8.1f s spill=${spillBytes.get() / 1e6}%.0f MB")
      sweep()
    }

    // warm the JVM/codegen once
    PageRank.run(spark, SyntheticGraph.powerLaw(spark, 10000L, 100000L), params).release()
    sweep()

    for (ne <- points) {
      val nv = ne / 10
      val cap = math.max(32L, ne / 250000L).toInt
      spark.conf.set("spark.sql.shuffle.partitions", cap)
      println(s"XL point edges=$ne shuffle.partitions=$cap")
      measure("pr_df", nv, ne) {
        val res = PageRank.run(spark, SyntheticGraph.powerLaw(spark, nv, ne), params)
        require(res.iterations == iters)
        val n = PageRank.topK(res.ranks, 100).count()
        res.release(); n
      }
      measure("lpa", nv, ne) {
        val res = LabelPropagation.run(SyntheticGraph.powerLaw(spark, nv, ne), rounds = 2)
        val n = res.count()
        GraftInternals.freeLocalCheckpoint(res); n
      }
      measure("cc_df", nv, ne) {
        val res = ConnectedComponents.run(SyntheticGraph.powerLaw(spark, nv, ne))
        val n = res.count()
        GraftInternals.freeLocalCheckpoint(res); n
      }
      // Round-8 loops: directed SCC (coloring fixpoint dominates — its
      // propagation rounds scale with the min-label chain length, so the
      // 100M point is skipped like GraphX's; 2M/20M characterize the
      // curve) and sampled path-load centrality (k bounded, so it rides
      // every point).
      if (ne <= 20000000L) measure("scc", nv, ne) {
        val res = graft.graph.Scc.run(
          SyntheticGraph.powerLaw(spark, nv, ne), maxRounds = 12, maxProp = 80)
        val n = res.count()
        GraftInternals.freeLocalCheckpoint(res); n
      }
      measure("pathload", nv, ne) {
        import org.apache.spark.sql.functions.col
        val seeds = spark.range(3).select(col("id"))
        val res = graft.graph.Centrality.pathLoad(
          SyntheticGraph.powerLaw(spark, nv, ne), seeds, k = 3)
        val n = res.count()
        GraftInternals.freeLocalCheckpoint(res); n
      }
      if (ne <= 20000000L) measure("graphx", nv, ne) {
        val res = PageRankGraphX.run(spark, SyntheticGraph.powerLaw(spark, nv, ne), params)
        require(res.iterations == iters)
        val n = PageRank.topK(res.ranks, 100).count()
        res.release(); n
      }
    }
    spark.stop()
  }
}
