package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val Sf001 = "/root/testdata/sf0.001"
  val Sf01 = "/root/testdata/sf0.01"

  /** A tab-separated edge file holding `rows`, one per line. */
  def edgeFile(rows: String*): String = {
    val f = java.nio.file.Files.createTempDirectory("graft-edges").resolve("edges.txt")
    java.nio.file.Files.writeString(f, rows.mkString("", "\n", "\n"))
    f.toString
  }

  /** The session's cache manager holds no persisted plan. A persist whose
    * first action throws keeps its entry there although no RDD of it
    * stays registered, so an RDD-id diff alone misses that leak.
    */
  def noCachedPlans: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty
}
