package graft.graph

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** GraphX scale path for PageRank (SURVEY §7.3): Pregel-style
  * `aggregateMessages` iterations over a partitioned `Graph`, avoiding the
  * per-iteration SQL planning cost of the DataFrame loop on very large /
  * long-running graphs.
  *
  * Semantics match [[PageRank.run]] exactly (renormalizing dead-end +
  * spider-trap fold-back, global-L1 convergence, `pageRank.py:116-145`) —
  * NOT GraphX's built-in `lib.PageRank`, whose per-vertex tolerance and
  * unnormalized ranks differ from the reference (SURVEY §2.9). Asserted
  * equal to the DataFrame loop within 1e-9 L1 in ScalaTest.
  */
object PageRankGraphX {

  def run(
      spark: SparkSession,
      edges: DataFrame, // (src LONG, dst LONG)
      params: PageRank.Params = PageRank.Params()): PageRank.RankResult = {
    val sc = spark.sparkContext
    val persistedBefore = graft.RddScope.persisted(spark)
    val edgeRdd = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val base = Graph.fromEdges(edgeRdd, defaultValue = (),
      edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
      .partitionBy(org.apache.spark.graphx.PartitionStrategy.EdgePartition2D)
    // EdgePartition2D co-partitioning before the iteration loop (r18
    // verdict #8, measured r19 on the 2M-edge scaled leg, fresh-JVM
    // interleaved A/B): cpu 109–139 → 83–104 s, min wall 6.93 → 5.62 s
    // (~1.2×) — 2D partitioning bounds each vertex's replication across
    // edge partitions to 2√P, so aggregateMessages ships and scans fewer
    // replicated vertex copies; the one-off partitionBy shuffle amortizes
    // in two iterations. At cluster scale the replication bound is the
    // classic reason to turn this on. Message combining order changes at
    // ulp level (float regrouping); the golden WikiData top-100 /
    // 13-iteration pin, the DF-loop 1e-9 L1 + iteration parity specs, and
    // the pr_graphx/i2 oracles stay green (asserted).
    val graph = base.outerJoinVertices(base.outDegrees) {
      (_, _, degOpt) => degOpt.getOrElse(0)
    }.cache()
    val n = graph.numVertices
    if (n == 0) {
      import spark.implicits._
      val empty = Seq.empty[(Long, Double)].toDF("id", "rank")
      graft.RddScope.sweepExcept(spark, persistedBefore, empty)
      return PageRank.RankResult(empty, 0, 0.0)
    }

    // vertex attr: (outDegree, rank) — deliberately a Tuple2[Int, Double],
    // which Scala SPECIALIZES to primitives. An r19 experiment carried the
    // per-vertex |Δrank| as a third attr element to fuse the convergence
    // job into the generation hand-off: Tuple3 is NOT specialized, so
    // every vertex attr boxed through aggregateMessages' replicated view
    // and the 2M-edge scaled leg blew up ~10× (measured fresh-JVM: wall
    // 7.8–15.4 s → 83–111 s, cpu 146 → 1964 s, gc 13 → 254 s). Keep the
    // shipped attr primitive.
    var ranked = graph.mapVertices { case (_, deg) => (deg, 1.0 / n) }.cache()
    // The old loop ran a THIRD driver job per iteration — a bare
    // `next.vertices.count()` — only so `ranked`/`pre` could be
    // unpersisted immediately. Instead, defer the unpersist by ONE
    // generation: the next iteration's s-sum materializes `next` through
    // its parents, and THEN the parents are freed. 3 jobs/iteration → 2,
    // at the cost of one extra |V|-sized cached generation in flight.
    var prevGen: List[Graph[_, _]] = Nil
    var iter = 0
    var delta = Double.MaxValue
    while (delta > params.delta && iter < params.maxIter) {
      val contribs = ranked.aggregateMessages[Double](
        ctx => ctx.sendToDst(ctx.srcAttr._2 / ctx.srcAttr._1),
        _ + _)
      val pre = ranked.outerJoinVertices(contribs) {
        case (_, (deg, oldRank), cOpt) =>
          (deg, oldRank, params.beta * cOpt.getOrElse(0.0))
      }.cache()
      val s = pre.vertices.map(_._2._3).sum()
      // `pre` (and through it the previous generation's `ranked`) is now
      // materialized — the generation BEFORE it can no longer be recomputed
      // into and is safe to free.
      prevGen.foreach(_.unpersist(blocking = false))
      val corr = (1.0 - s) / n
      delta = pre.vertices.map { case (_, (_, oldRank, p)) =>
        math.abs(p + corr - oldRank) }.sum()
      val next = pre.mapVertices { case (_, (deg, _, p)) => (deg, p + corr) }.cache()
      prevGen = List(ranked, pre)
      ranked = next
      iter += 1
    }
    // prevGen is NOT freed here: the final `ranked` generation is still
    // lazy and recomputes through prevGen's cache when the checkpoint
    // below materializes it; sweepExcept then frees every cached RDD.
    import spark.implicits._
    // Materialize the result OFF the GraphX lineage (eager localCheckpoint),
    // then sweep every RDD this run cached: `Dataset.unpersist` and
    // `catalog.clearCache` never touch raw RDD caches, and unpersisting the
    // graphs we hold is NOT enough — GraphX caches one replicated-view
    // EdgeRDD per aggregateMessages round that no public handle reaches
    // (see [[graft.RddScope]]). The checkpoint backing itself is the
    // caller's to free via `RankResult.release()` once consumed.
    val df = ranked.vertices.map { case (id, (_, r)) => (id, r) }
      .toDF("id", "rank").localCheckpoint(true)
    graft.RddScope.sweepExcept(spark, persistedBefore, df)
    PageRank.RankResult(df, iter, delta)
  }
}
