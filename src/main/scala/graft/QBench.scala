package graft

import org.apache.spark.sql.SparkSession

/** Isolated per-query A/B microbench: runs the named `SparkEntry.queries`
  * entries or [[harnessLegs]] on a FRESH JVM (one `runMain` per
  * invocation) with [[Bench]]'s session and stage meter, so a single
  * query's wall/cpu can be compared across commits without the 60-query
  * session's JIT/cache history in the way. The one A/B entry point: the
  * auto-A/B detector forks it, and it is the tool for a by-hand A/B.
  *
  *   sbt "runMain graft.QBench g3_triangles n2_ann_lsh"   # 3 runs each
  */
object QBench {

  /** Bench harness legs that are NOT SparkEntry queries but are still
    * auto-A/B re-measurable on a fresh JVM — the r17 deferral class: a
    * flagged `pagerank_*` leg fell to a "re-measure by hand" note that
    * never ran, leaving the flag pending at judging time. Bodies mirror
    * the Bench legs exactly (same data, params, and top-k
    * materialization). The sinks legs stay manual: they time an export
    * of the release chain's shared template, which only exists inside a
    * full Bench session.
    */
  private[graft] val harnessLegs: Map[String, SparkSession => Unit] = {
    import graft.graph.{PageRank, PageRankGraphX, SyntheticGraph}
    val flagship = PageRank.Params(beta = 0.85, delta = 1e-5)
    val wikidata = "/root/reference/WikiData.txt"
    Map(
      "pagerank_wikidata" -> { spark =>
        val res = PageRank.run(
          spark, PageRank.edgesFromText(spark, wikidata), flagship)
        require(PageRank.topK(res.ranks, 100).count() == 100)
        res.release()
      },
      "pagerank_wikidata_graphx" -> { spark =>
        val res = PageRankGraphX.run(
          spark, PageRank.edgesFromText(spark, wikidata), flagship)
        require(PageRank.topK(res.ranks, 100).count() == 100)
        res.release()
      },
      "pagerank_scaled" -> { spark =>
        val edges = SyntheticGraph.powerLaw(
          spark, Bench.ScaledVerts, Bench.ScaledEdges)
        val res = PageRank.run(spark, edges, Bench.ScaledParams)
        require(res.iterations == Bench.ScaledParams.maxIter)
        require(PageRank.topK(res.ranks, 100).count() == 100)
        res.release()
      },
      "pagerank_scaled_graphx" -> { spark =>
        val edges = SyntheticGraph.powerLaw(
          spark, Bench.ScaledVerts, Bench.ScaledEdges)
        val res = PageRankGraphX.run(spark, edges, Bench.ScaledParams)
        require(res.iterations == Bench.ScaledParams.maxIter)
        require(PageRank.topK(res.ranks, 100).count() == 100)
        res.release()
      })
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QBench <queryName>...")
    // Resolve every name before the session starts: a typo must not
    // cost a Spark start-up and then fail as a bare "key not found".
    val known = harnessLegs.keySet ++ SparkEntry.queries.keySet
    val unknown = args.filterNot(known)
    require(unknown.isEmpty,
      s"unknown leg(s) ${unknown.mkString(", ")}: not a SparkEntry query or a QBench harness leg")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Bench.session(cpus)
    val sc = spark.sparkContext
    val meter = new Bench.StageMeter(spark)
    spark.read.parquet(s"$sfDir/lineitem.parquet").count() // session warm-up
    args.foreach { name =>
      val samples = (1 to 3).map { _ =>
        meter.reset()
        val t0 = System.nanoTime()
        harnessLegs.get(name) match {
          case Some(run) => run(spark)
          case None => SparkEntry.queries(name)(spark, sfDir).count(); ()
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val (cpu, gcMs) = meter.read()
        spark.catalog.clearCache()
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        (wall, cpu, gcMs / 1e3)
      }
      // gc AFTER cpu: Bench.isolatedAb parses "wall=X cpu=Y" pairs, so
      // the added field must not sit between them.
      val line = samples.map { case (w, c, g) =>
        f"wall=$w%.2f cpu=$c%.2f gc=$g%.1f"
      }.mkString(s"QBENCH $name: ", " | ", "")
      println(line)
    }
    spark.stop()
  }
}
