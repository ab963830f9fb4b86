package graft

import org.apache.spark.sql.functions._
import graft.graph.ConnectedComponents
import graft.dedup.Dedup

import scala.util.Random

/** DataFrame-native connected components (HCC + pointer jumping) vs the
  * GraphX engine and hand-computed components.
  */
class CcSpec extends SparkSpec {
  import spark.implicits._

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two components, mixed direction and duplicate edges") {
    val pairs = Seq((2L, 1L), (1L, 2L), (2L, 3L), (7L, 9L), (9L, 7L)).toDF("a", "b")
    val got = labels(ConnectedComponents.run(pairs))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("long chain converges (star contraction, not O(diameter) stalling)") {
    // A 400-hop path: per-round min-label propagation needs ~400 rounds;
    // star contraction is O(log²). We can't count rounds from the
    // outside, but a pathological runtime would blow the suite budget —
    // the correctness half is that the min id reaches the far end.
    val n = 400
    val pairs = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    val got = labels(ConnectedComponents.run(pairs))
    assert(got.size == n)
    assert(got.values.forall(_ == 1L))
  }

  test("matches GraphX clusters on a random graph") {
    val rnd = new Random(42)
    val pairs = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
      .toDF("a", "b")
    val df = labels(ConnectedComponents.run(pairs))
    val gx = labels(Dedup.clusters(pairs))
    assert(df == gx)
  }

  test("empty pair set yields empty result with the right schema") {
    val pairs = Seq.empty[(Long, Long)].toDF("a", "b")
    val out = ConnectedComponents.run(pairs)
    assert(out.columns.toSeq == Seq("member_id", "rep_id"))
    assert(out.count() == 0)
  }

  test("self-loops are inert but keep their vertex") {
    val pairs = Seq((5L, 5L), (1L, 2L)).toDF("a", "b")
    val got = labels(ConnectedComponents.run(pairs))
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 5L))
  }

  test("a pair that fails its cast fails the run without leaking a persist") {
    val pairs = spark.read.option("delimiter", "\t").csv(edgeFile("1\t2", "1\tx"))
    spark.catalog.clearCache()
    val before = RddScope.persisted(spark)
    intercept[NumberFormatException](ConnectedComponents.run(pairs))
    assert(noCachedPlans, "the normalized pairs' persist outlived the throw")
    assert(RddScope.persisted(spark) == before)
  }

  test("leaves no persisted RDDs behind (checkpoint backing aside)") {
    val before = RddScope.persisted(spark)
    val out = ConnectedComponents.run(Seq((1L, 2L), (2L, 3L)).toDF("a", "b"))
    out.count()
    val keep = org.apache.spark.sql.graft.GraftInternals.checkpointRddIds(out)
    val leaked = RddScope.persisted(spark) -- before -- keep
    assert(leaked.isEmpty, s"leaked RDD ids: $leaked")
    org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(out)
  }
}
