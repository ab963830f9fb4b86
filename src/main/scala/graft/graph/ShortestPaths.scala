package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Multi-source single-pass shortest paths: `rounds` synchronized rounds of
  * Bellman–Ford relaxation over a weighted edge relation (src, dst, w),
  * w > 0. After round r every vertex holds the exact minimum weight over
  * all paths of ≤ r edges from the seed set — the same prefix the unrolled
  * DuckDB oracle computes, so results are hash-comparable without any
  * convergence test. (The reference engine's only fixpoint is PageRank —
  * `/root/reference/pageRank.py:66-79`; this is the companion path-metric
  * fixpoint a graph library needs, in the same bounded-unroll style as
  * [[Motifs.kHopMinHops]].)
  *
  * Scale shape: the edge relation is persisted and NEVER rebuilt; each
  * round relaxes ONLY the frontier (vertices whose distance improved last
  * round — the standard frontier optimization, identical results to
  * relaxing everything). While the frontier is small it is broadcast, so a
  * round is a shuffle-free scan of the persisted edges plus a groupBy on
  * the (small) candidate set; past [[Motifs.kHopMinHops]]'s threshold the
  * joins fall back to Catalyst shuffle planning. Distances advance through
  * [[Fixpoint.iterate]]; callers sweep the final checkpoint with the usual
  * persistent-RDD sweep.
  */
object ShortestPaths {

  private val BroadcastMax = 1000000L

  /** `edges`: (src, dst, w) with w > 0 (enforced by FAILING, matching
    * [[PageRank.weightedFixedIterations]] — a silent filter would also
    * silently report any vertex reachable only through the dropped edge as
    * unreachable); `seeds`: single-column id relation, distance 0.
    * Returns (id, dist).
    */
  def bellmanFord(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 12,
      s"bellmanFord unrolls `rounds` plan levels; got rounds=$rounds")
    val e = edges.select(
        col(edges.columns(0)).as("src"),
        col(edges.columns(1)).as("dst"),
        col(edges.columns(2)).cast("double").as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // The contract check materializes the persisted edge cache the loop
      // was about to pay for anyway — no extra upstream scan.
      val bad = e.filter(col("w").isNull || col("w") <= 0).count()
      if (bad != 0L)
        throw new IllegalArgumentException(
          s"bellmanFord: $bad edge(s) with null/zero/negative weight — weights must be > 0")

      val spark = edges.sparkSession
      val m = e.count() // cheap scan of the cache the contract check filled
      Fixpoint.withLoopConf(spark, Fixpoint.loopPartitions(spark, m)) {
        // Round state: (id, dist, improved); the frontier is the improved
        // rows, and a round's scalar is the frontier size.
        val first = Fixpoint.Round(
          seeds.select(col(seeds.columns(0)).as("id")).distinct()
            .select(col("id"), lit(0.0).as("dist"), lit(true).as("improved")),
          (s: DataFrame) => s.filter(col("improved")).count())
        val (state, _, _) = Fixpoint.iterate(first, rounds, "bellmanFord") {
          (state, frontierSize, r) =>
            if (frontierSize == 0 || r == rounds) None
            else {
              val dist = state.select(col("id"), col("dist"))
              val frontier = state.filter(col("improved")).select(col("id"), col("dist"))
              val fSide = if (frontierSize <= BroadcastMax) broadcast(frontier) else frontier
              // Candidates from the frontier only, pre-combined per target
              // id so the merge join below sees one row per touched vertex.
              val cand = e.join(fSide, e("src") === frontier("id"))
                .select(e("dst").as("id"), (frontier("dist") + e("w")).as("cd"))
                .groupBy(col("id")).agg(min(col("cd")).as("cd"))
              val merged = dist.join(cand, Seq("id"), "full_outer")
                .select(col("id"),
                  least(coalesce(col("dist"), col("cd")), coalesce(col("cd"), col("dist")))
                    .as("dist"),
                  (col("dist").isNull || (col("cd").isNotNull && col("cd") < col("dist")))
                    .as("improved"))
              Some(Fixpoint.Round(merged, (s: DataFrame) => s.filter(col("improved")).count()))
            }
        }
        state.select(col("id"), col("dist"))
      }
    } finally e.unpersist()
  }
}
