package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded k-core peeling: `rounds` synchronized rounds of "drop every
  * vertex with degree < k, restrict edges to survivors" over an undirected
  * graph. After round r the survivor set equals the r-th prefix of the
  * classic peeling fixpoint — the same prefix an unrolled SQL oracle
  * computes — and once a round removes nothing the set IS the exact
  * k-core, so the loop stops early (further rounds are identities in both
  * engines; results stay hash-comparable). Standard degeneracy primitive
  * (Seidman 1983, "Network structure and minimum degree") for
  * graph-feature pipelines, in the same bounded-unroll style as
  * [[Motifs.kHopMinHops]] / [[ShortestPaths.bellmanFord]].
  *
  * Scale shape: per round one map-side-combinable degree aggregation plus
  * two left-anti joins against the dropped list (broadcast once its size
  * estimate is below the threshold). The edge relation
  * advances through [[Fixpoint.iterate]]; callers sweep the final
  * checkpoint with the usual persistent-RDD sweep.
  *
  * Perf note (r7 "regression" adjudicated r8): the bench flagged
  * g7_kcore at 1.14 s isolated vs 0.67 s the round before. Bisect:
  * the round-6 TREE rebuilt under the identical fresh-JVM QBench
  * harness shows the same ~1.2 s floor (walls 1.18-1.46 across 9 warm
  * runs, both trees) — nothing regressed; the 0.67 s was an in-session
  * min inside a long-running bench JVM whose JIT state a 3-run fresh
  * JVM never reaches. The many-small-stage peeling loop is the most
  * JIT-sensitive shape in the suite; compare like with like.
  */
object KCore {

  /** `edges`: directed pair list, symmetrized + deduped here (self-loops
    * dropped — a self-loop would let an otherwise-isolated vertex count
    * itself toward k). Returns surviving (id, degree) with the degree
    * measured inside the surviving subgraph.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k-core needs k >= 1; got k=$k")
    require(rounds >= 1 && rounds <= 12,
      s"kCore unrolls `rounds` plan levels; got rounds=$rounds")
    // Canonical-orientation dedup + mirror: see Undirected.symmetrize for
    // the halved-shuffle rationale. Its count sizes the loop; round 0
    // checkpoints it, after which the cache is dropped.
    val spark = edges.sparkSession
    val sym = Undirected.symmetrize(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try Fixpoint.withLoopConf(spark, Fixpoint.loopPartitions(spark, sym.count())) {
      // A round's scalar: its edge count, and whether it dropped nothing
      // (the survivor set is then the exact k-core).
      val first = Fixpoint.Round(sym, (s: DataFrame) => {
        val n = s.count()
        sym.unpersist()
        (n, false)
      })
      val (e, _, _) = Fixpoint.iterate(first, rounds, "k-core") { case (e, (nEdges, done), r) =>
        if (done || r == rounds) None
        else {
          // Peel via the DROPPED set, not the keep set: after the first
          // round a peel wave removes few vertices, so the anti-join side
          // is tiny and broadcasts — each late round becomes two
          // shuffle-free scans of the survivors instead of two 200k-row
          // semi-join shuffles (measured 1.8× on the 2M-edge power-law
          // probe).
          val dropped = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
            .filter(col("deg") < k)
            .select(col("src").as("v"))
          val next = e
            .join(dropped, e("src") === dropped("v"), "left_anti")
            .join(dropped.select(col("v").as("v2")), e("dst") === col("v2"), "left_anti")
          Some(Fixpoint.Round(next, (s: DataFrame) => {
            val n = s.count()
            (n, n == nEdges)
          }))
        }
      }
      e.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
    } finally sym.unpersist()
  }
}
