package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.PageRank

/** FIXTURES.md §2 analytic graphs + the reference golden output.
  * Invariants from SURVEY §5: Σrank = 1 after every renormalizing run,
  * ranks > 0, convergence below δ.
  */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private def edges(pairs: (Long, Long)*): DataFrame =
    pairs.toDF("src", "dst")

  private def rankMap(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("two-cycle converges to 0.5/0.5") {
    val res = PageRank.run(spark, edges((1L, 2L), (2L, 1L)))
    val m = rankMap(res.ranks)
    assert(math.abs(m(1L) - 0.5) < 1e-6)
    assert(math.abs(m(2L) - 0.5) < 1e-6)
    assert(res.finalDelta < 1e-5)
  }

  test("dead-end chain keeps total mass 1 and orders ranks by depth") {
    val res = PageRank.run(spark, edges((1L, 2L), (2L, 3L)))
    val m = rankMap(res.ranks)
    assert(math.abs(m.values.sum - 1.0) < 1e-9, s"sum=${m.values.sum}")
    assert(m(3L) > m(2L) && m(2L) > m(1L))
  }

  test("loop conf (shuffle partitions, AQE) is restored after a run") {
    val beforeParts = spark.conf.get("spark.sql.shuffle.partitions")
    val beforeAqe = spark.conf.get("spark.sql.adaptive.enabled")
    PageRank.run(spark, edges((1L, 2L), (2L, 1L)))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == beforeParts)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == beforeAqe)
    // the tiny graph must have run with graph-sized (1-partition) shuffles
    val g = PageRank.prepare(edges((1L, 2L), (2L, 1L)))
    try assert(g.parts == 1)
    finally g.unpersist()
  }

  test("repeated run + release keeps the persistent-RDD count flat") {
    val sc = spark.sparkContext
    val e = edges((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
    val before = sc.getPersistentRDDs.keySet
    (1 to 3).foreach { _ =>
      val res = PageRank.run(spark, e)
      assert(res.ranks.count() == 3)
      res.release()
    }
    val fixed = PageRank.fixedIterations(spark, e, beta = 0.85, iterations = 3)
    assert(fixed.count() == 3)
    PageRank.release(fixed)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "each run must free its checkpoint backing on release()")
  }

  test("spider trap does not absorb all mass") {
    val res = PageRank.run(spark, edges((1L, 2L), (2L, 3L), (3L, 2L)))
    val m = rankMap(res.ranks)
    assert(math.abs(m.values.sum - 1.0) < 1e-9)
    assert(m(1L) > 0.0)
    assert(m(2L) + m(3L) < 1.0)
  }

  test("star graph: hub ranks highest, leaves equal") {
    val res = PageRank.run(spark, edges((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L), (5L, 10L)))
    val m = rankMap(res.ranks)
    assert(m(10L) == m.values.max)
    val leaves = Seq(1L, 2L, 3L, 4L, 5L).map(m)
    assert(leaves.forall(v => math.abs(v - leaves.head) < 1e-12))
  }

  test("empty graph yields empty result, no crash") {
    val res = PageRank.run(spark, edges())
    assert(res.ranks.count() == 0)
  }

  test("malformed edge row errors under FAILFAST (SURVEY §7.6)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-badedges")
    val f = dir.resolve("edges.txt")
    java.nio.file.Files.writeString(f, "1\t2\n3\tnot_a_number\n4\t5\n")
    val thrown = intercept[org.apache.spark.SparkException] {
      PageRank.edgesFromText(spark, f.toString).collect()
    }
    assert(thrown.getMessage.toLowerCase.contains("malformed")
      || Option(thrown.getCause).exists(_.getMessage.toLowerCase.contains("malformed")))
  }

  test("a malformed edge file fails the run without leaking a persist") {
    val dir = java.nio.file.Files.createTempDirectory("graft-badedges-leak")
    val f = dir.resolve("edges.txt")
    java.nio.file.Files.writeString(f, "1\t2\n3\tnot_a_number\n4\t5\n")
    val before = RddScope.persisted(spark)
    val in = PageRank.edgesFromText(spark, f.toString)
    intercept[org.apache.spark.SparkException](PageRank.run(spark, in))
    assert(in.storageLevel == StorageLevel.NONE,
      "prepare's persist of the edges outlived the throw")
    assert(RddScope.persisted(spark) == before)
    // A caller-owned persist is the caller's to drop.
    val owned = PageRank.edgesFromText(spark, f.toString).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      intercept[org.apache.spark.SparkException](PageRank.run(spark, owned))
      assert(owned.storageLevel == StorageLevel.MEMORY_AND_DISK)
    } finally owned.unpersist(blocking = true)
    assert(RddScope.persisted(spark) == before)
  }

  test("empty edge file yields empty frame, comments skipped") {
    val dir = java.nio.file.Files.createTempDirectory("graft-emptyedges")
    val f = dir.resolve("edges.txt")
    java.nio.file.Files.writeString(f, "# header comment only\n")
    assert(PageRank.edgesFromText(spark, f.toString).count() == 0)
  }

  test("fixedIterations matches hand-computed two-node value") {
    // 1→2 only: after 1 iter with β=0.85, N=2:
    // r(1) = 0.15/2 = 0.075 ; r(2) = 0.075 + 0.85·0.5 = 0.5
    val r = PageRank.fixedIterations(spark, edges((1L, 2L)), 0.85, 1)
    val m = rankMap(r)
    assert(math.abs(m(1L) - 0.075) < 1e-12)
    assert(math.abs(m(2L) - 0.5) < 1e-12)
  }

  test("sample(frac, seed) is deterministic (P3)") {
    val li = Tables.lineitem(spark, Sf001)
    val a = li.sample(withReplacement = false, 0.1, seed = 1).count()
    val b = li.sample(withReplacement = false, 0.1, seed = 1).count()
    assert(a == b)
  }

  // End-to-end golden oracle: reproduce the reference's published top-100
  // (README §8, /root/reference/README.md:320-421) from WikiData.txt at
  // β=0.85, δ=1e-5. Ordering must match exactly; scores to 1e-9 (summation
  // order differs from pandas — SURVEY §7.6).
  test("WikiData golden top-100 parity") {
    val golden = scala.io.Source.fromFile("/root/reference/README.md", "UTF-8")
      .getLines()
      .filter(_.matches("""\[\d+\] \[0\.\d+\]"""))
      .map { line =>
        val m = """\[(\d+)\] \[(0\.\d+)\]""".r.findFirstMatchIn(line).get
        (m.group(1).toLong, m.group(2).toDouble)
      }
      .toList
    assert(golden.size == 100, s"expected 100 golden lines, got ${golden.size}")

    val e = PageRank.edgesFromText(spark, "/root/reference/WikiData.txt")
    val res = PageRank.run(spark, e, PageRank.Params(beta = 0.85, delta = 1e-5))
    val top = PageRank.topK(res.ranks, 100)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList

    assert(res.iterations == 13, s"expected 13 iterations, got ${res.iterations}")
    top.zip(golden).zipWithIndex.foreach { case (((gotId, gotS), (expId, expS)), i) =>
      assert(gotId == expId, s"rank position $i: got page $gotId, expected $expId")
      assert(math.abs(gotS - expS) < 1e-9,
        s"page $gotId score: got $gotS, expected $expS")
    }
  }

  test("fused live-mass loop matches GraphX on a NON-fixture graph " +
      "(iterations + delta — threshold-flip tripwire)") {
    // r18 ADVICE: the fused per-iteration aggregate regroups the lost-mass
    // float summation per-vertex (s = β·Σ_live rank) where the unfused
    // form summed per-edge-contribution; the two differ at ulp level and
    // could flip the iteration count right at the convergence threshold on
    // graphs OUTSIDE the pinned fixtures (WikiData / sf0.001). This pins a
    // synthetic power-law graph under a CONVERGENCE run (delta-terminated,
    // not maxIter-terminated) against the GraphX engine, whose lost-mass
    // sum uses yet another grouping (per-destination receive): equal
    // iteration counts + tight L1 parity means neither regroup flipped an
    // iteration at this threshold.
    val edges = graph.SyntheticGraph.powerLaw(spark, 3000L, 30000L)
      .localCheckpoint(true)
    val params = PageRank.Params(beta = 0.85, delta = 1e-4, maxIter = 60)
    val df = PageRank.run(spark, edges, params)
    val gx = graph.PageRankGraphX.run(spark, edges, params)
    assert(df.iterations < params.maxIter,
      s"fixture did not converge (${df.iterations} iterations) — the " +
        "threshold tripwire needs a delta-terminated run")
    assert(df.iterations == gx.iterations,
      s"iteration count flipped across float regroupings: " +
        s"df=${df.iterations} gx=${gx.iterations}")
    assert(math.abs(df.finalDelta - gx.finalDelta) < 1e-9,
      s"final delta diverged: df=${df.finalDelta} gx=${gx.finalDelta}")
    val l1 = df.ranks.as("a").join(gx.ranks.as("b"), "id")
      .agg(sum(abs(col("a.rank") - col("b.rank")))).head().getDouble(0)
    assert(l1 < 1e-9, s"L1 diverged: $l1")
    df.release(); gx.release()
    org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(edges)
  }
}
