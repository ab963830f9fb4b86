package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Isolated per-query A/B microbench: runs the named [[legs]] on a FRESH
  * JVM (one `runMain` per invocation) with [[Bench]]'s session, stage
  * meter and timed-run loop ([[Bench.timeOnce]]), so a single leg's
  * wall/cpu can be compared across commits without the full session's
  * JIT/cache history in the way. Bench measures and lists the legs that
  * moved against its floors; QBench is the by-hand check of such a leg,
  * and the one A/B entry point.
  *
  *   sbt "runMain graft.QBench g3_triangles n2_ann_lsh"   # 3 runs each
  *
  * Each leg prints one `QBENCH <leg>:` line with `wall=… cpu=… gc=…`
  * (seconds) per run; a failed run reads `failed: <exception>`.
  */
object QBench {

  /** Scaled flagship graph: 2M power-law edges over 200k vertices, run for
    * exactly 10 renormalizing iterations (delta = 0 forces maxIter) so DF
    * and GraphX do identical work and the numbers are comparable across
    * rounds.
    */
  private val ScaledVerts = 200000L
  private val ScaledEdges = 2000000L
  private val ScaledParams = graft.graph.PageRank.Params(beta = 0.85, delta = 0.0, maxIter = 10)

  /** The Bench harness legs that are not SparkEntry queries: the four
    * PageRank legs, each timing load, fixpoint and top-k materialization.
    * The sinks legs stay out: they time an export of the release chain's
    * shared template, which only exists inside a full Bench session.
    */
  private val harnessLegs: Map[String, SparkSession => Unit] = {
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
          spark, ScaledVerts, ScaledEdges)
        val res = PageRank.run(spark, edges, ScaledParams)
        require(res.iterations == ScaledParams.maxIter)
        require(PageRank.topK(res.ranks, 100).count() == 100)
        res.release()
      },
      "pagerank_scaled_graphx" -> { spark =>
        val edges = SyntheticGraph.powerLaw(
          spark, ScaledVerts, ScaledEdges)
        val res = PageRankGraphX.run(spark, edges, ScaledParams)
        require(res.iterations == ScaledParams.maxIter)
        require(PageRank.topK(res.ranks, 100).count() == 100)
        res.release()
      })
  }

  /** Every leg a fresh session runs by name, the one table both mains
    * run: a SparkEntry query, counted in full and returned so the timed
    * run can leave its checkpoint backings out of the leak count, or a
    * [[harnessLegs]] body.
    */
  private[graft] val legs: Map[String, (SparkSession, String) => Option[DataFrame]] =
    SparkEntry.queries.map { case (name, query) =>
      name -> { (spark: SparkSession, sfDir: String) =>
        val df = query(spark, sfDir)
        df.count()
        Option(df)
      }
    } ++ harnessLegs.map { case (name, run) =>
      name -> { (spark: SparkSession, _: String) => run(spark); Option.empty[DataFrame] }
    }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QBench <queryName>...")
    // Resolve every name before the session starts: a typo must not
    // cost a Spark start-up and then fail as a bare "key not found".
    val unknown = args.filterNot(legs.contains)
    require(unknown.isEmpty,
      s"unknown leg(s) ${unknown.mkString(", ")}: not a SparkEntry query or a QBench harness leg")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session(Bench.cpus)
    val meter = new Bench.StageMeter(spark)
    spark.read.parquet(s"$sfDir/lineitem.parquet").count() // session warm-up
    args.foreach { name =>
      val samples = (1 to 3).map(_ => Bench.timeOnce(spark, meter)(legs(name)(spark, sfDir)))
      val line = samples.map { s =>
        s.error.fold(f"wall=${s.wall}%.2f cpu=${s.cpuS}%.2f gc=${s.gcMs / 1e3}%.1f")("failed: " + _)
      }.mkString(s"QBENCH $name: ", " | ", "")
      println(line)
    }
    spark.stop()
  }
}
