package graft

import org.apache.spark.sql.SparkSession
import graft.graph.PageRank
import graft.io.Sinks

/** End-to-end reference-parity pipeline: WikiData.txt → converged top-100 →
  * `result.txt` in the reference's `[page] [score]` line format
  * (`/root/reference/pageRank.py:181-194` as one Spark dataflow).
  *
  * Usage: `sbt "runMain graft.Flagship [edgesPath] [outDir]"`.
  */
object Flagship {
  def main(args: Array[String]): Unit = {
    val edgesPath = args.headOption.getOrElse("/root/reference/WikiData.txt")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_result"
    val cpus = Bench.cpus.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-flagship")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    val edges = PageRank.edgesFromText(spark, edgesPath)
    val res = PageRank.run(spark, edges, PageRank.Params(beta = 0.85, delta = 1e-5))
    val top = PageRank.topK(res.ranks, 100)
    Sinks.writeResultText(top, outDir)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"converged in ${res.iterations} iterations (delta=${res.finalDelta}%.3e), " +
      f"top-100 written to $outDir in $secs%.2f s")
    spark.stop()
  }
}
