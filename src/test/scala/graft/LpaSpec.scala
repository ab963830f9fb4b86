package graft

import graft.graph.LabelPropagation

/** The exact rule of LabelPropagation.run as a naive in-memory oracle:
  * symmetrize+dedup edges, then each round every vertex adopts the
  * (count desc, label asc) winner among neighbor labels plus its own
  * current label. Shared by [[LpaSpec]] and [[LpaProperties]] so the two
  * suites can never assert different reference rules.
  */
private[graft] object LpaReference {
  def naive(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val und = edges.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val adj = (und ++ und.map(_.swap))
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    var labels: Map[Long, Long] = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      labels = adj.map { case (v, ns) =>
        val votes = (labels(v) +: ns.map(labels)).groupBy(identity)
          .map { case (l, occ) => (l, occ.size) }
        v -> votes.toSeq.maxBy { case (l, c) => (c.toLong, -l) }._1
      }
    }
    labels
  }
}

/** Semantics of bounded synchronous label propagation: equivalence with a
  * naive in-memory implementation of the same deterministic rule, known
  * community structure, and the early-stop fixpoint.
  */
class LpaSpec extends SparkSpec {
  import spark.implicits._

  private def naive(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
    LpaReference.naive(edges, rounds)

  private def run(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
    LabelPropagation.run(edges.toDF("src", "dst"), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("matches the naive reference on an irregular graph, round for round") {
    // Mixed degrees, a duplicate edge, a reversed duplicate, a self-loop.
    val edges = Seq[(Long, Long)](
      (1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (4, 4),
      (2, 1), (6, 5), (7, 1), (8, 9))
    for (r <- 1 to 4) {
      assert(run(edges, r) == naive(edges, r), s"diverged at rounds=$r")
    }
  }

  test("a malformed edge file fails the run without leaking a persist") {
    val in = graft.graph.PageRank.edgesFromText(spark, edgeFile("1\t2", "3\tnot_a_number", "4\t5"))
    spark.catalog.clearCache()
    val before = RddScope.persisted(spark)
    intercept[org.apache.spark.SparkException](LabelPropagation.run(in, 3))
    assert(noCachedPlans, "the symmetrized edges' persist outlived the throw")
    assert(RddScope.persisted(spark) == before)
  }

  test("two cliques with one bridge resolve to two communities") {
    val cliqueA = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val cliqueB = for (a <- 10L to 13L; b <- 10L to 13L if a < b) yield (a, b)
    val got = run(cliqueA ++ cliqueB :+ (4L -> 10L), rounds = 4)
    // Every clique-A member labeled 1; every clique-B member labeled 10
    // (the bridge endpoints stay with their own clique's majority).
    assert((1L to 4L).forall(got(_) == 1L), got.toSeq.sorted)
    assert((10L to 13L).forall(got(_) == 10L), got.toSeq.sorted)
  }

  test("extra rounds past the fixpoint change nothing (early-stop identity)") {
    val edges = Seq[(Long, Long)]((1, 2), (2, 3), (3, 1), (5, 6))
    assert(run(edges, 4) == run(edges, 8))
  }

  test("degenerate inputs: empty graph and self-loops-only both yield empty") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(LabelPropagation.run(empty, 2).count() == 0)
    // Self-loops are dropped, so a loops-only graph has no vertices left.
    val loops = Seq((1L, 1L), (2L, 2L)).toDF("src", "dst")
    assert(LabelPropagation.run(loops, 2).count() == 0)
  }

  test("rounds guard rejects 0 and unroll-hostile depths") {
    val e = Seq((1L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException] { LabelPropagation.run(e, 0) }
    intercept[IllegalArgumentException] { LabelPropagation.run(e, 13) }
  }
}
