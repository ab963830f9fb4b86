package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint

/** Sampled, hop-bounded shortest-path LOAD centrality (the stress-
  * centrality family: Shimbel 1953, with Brandes 2001's level-synchronous
  * accumulation): load(v) = Σ_{s ∈ seeds, t} #(shortest s→t paths passing
  * THROUGH v), paths bounded to k hops.
  *
  * Two level-synchronous sweeps per the sampled source set — both carry
  * (seed, vertex) rows, so all seeds advance in the same k bounded joins
  * (no per-seed loop):
  *
  *   - forward: BFS levels with path COUNTS — σ(s,v) = Σ σ(s,u) over
  *     level-(d−1) in-neighbors; the level structure (anti-join against
  *     visited) is what makes the counted paths shortest;
  *   - backward: suffix counts over the shortest-path DAG —
  *     ψ(v) = 1 + Σ ψ(w) over level-(d+1) out-neighbors; then
  *     load contribution at v is σ(v)·(ψ(v) − 1) (the −1 drops the
  *     suffix that ENDS at v — a path ending at v does not pass through
  *     it), summed over seeds.
  *
  * Everything is INTEGER arithmetic (path counts, suffix counts), so
  * unlike true betweenness (whose σ_v/σ_w ratio sums are float and
  * summation-order-sensitive) the result hash-oracles exactly against an
  * unrolled per-level SQL twin. Scale shape: per hop one edge join + one
  * count-combinable aggregation keyed on (seed, vertex); frontier size is
  * |seeds|-bounded at the root; per-level checkpoints are freed once the
  * result is materialized.
  */
object Centrality {

  /** `edges`: directed (src, dst) pair list — symmetrize first for an
    * undirected reading. `seeds`: one id column. Returns (id, load) for
    * every vertex reached within k hops of any seed (seeds excluded —
    * a source is an endpoint, never "passed through").
    */
  def pathLoad(edges: DataFrame, seeds: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 8, s"pathLoad unrolls 2k plan levels; got k=$k")
    val spark = edges.sparkSession
    // Not a Fixpoint.iterate loop: a level has no scalar to act on, so
    // NO level runs its own driver job (r18 verdict #4 — this leg
    // regressed on per-hop eager levels). Every per-level checkpoint is a
    // lazy LogicalRDD leaf (linear plan growth) whose persist caches it
    // on first compute; the single eager materialization of `out` at the
    // end computes the whole 2k-level DAG in ONE job, the forward levels'
    // caches feeding both their anti-join reuse and the backward sweep.
    // 2k+2 driver jobs → 2. Integer path counts, so the loop sizing
    // cannot change the result.
    val e = edges
      .select(col(edges.columns(0)).as("src"), col(edges.columns(1)).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(false)
    Fixpoint.withLoopConf(spark, Fixpoint.loopPartitions(spark, {
      e.count() // sizes the loop; materializes the edge checkpoint
    })) {
    var frontier = seeds
      .select(col(seeds.columns(0)).as("seed"), col(seeds.columns(0)).as("id"))
      .distinct()
      .withColumn("sigma", lit(1L))
      .localCheckpoint(false)
    var levels = Vector(frontier)
    var visited = frontier.select(col("seed"), col("id"))
    for (_ <- 1 to k) {
      val next = e.join(frontier, col("src") === col("id"))
        .select(col("seed"), col("dst").as("nid"), col("sigma"))
        .groupBy(col("seed"), col("nid").as("id"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(visited, Seq("seed", "id"), "left_anti")
        .localCheckpoint(false)
      levels :+= next
      visited = visited.unionAll(next.select(col("seed"), col("id")))
      frontier = next
    }
    // Backward suffix counts over the level DAG.
    var psi = levels(k).select(col("seed"), col("id"), lit(1L).as("psi"))
    var loads: DataFrame = levels(k).select(col("seed"), col("id"),
      (col("sigma") * 0L).as("load")) // deepest level: psi − 1 = 0
    var spent: List[DataFrame] = Nil
    for (d <- (k - 1) to 1 by -1) {
      val fromNext = e
        .join(psi.select(col("seed"), col("id").as("dst"), col("psi")), "dst")
        .select(col("seed"), col("src").as("id"), col("psi"))
        .groupBy(col("seed"), col("id"))
        .agg(sum(col("psi")).as("s"))
      val lvl = levels(d)
      val withPsi = lvl
        .join(fromNext, Seq("seed", "id"), "left")
        .select(col("seed"), col("id"), col("sigma"),
          (lit(1L) + coalesce(col("s"), lit(0L))).as("psi"))
        .localCheckpoint(false)
      spent ::= withPsi
      loads = loads.unionAll(withPsi.select(col("seed"), col("id"),
        (col("sigma") * (col("psi") - 1L)).as("load")))
      psi = withPsi.select(col("seed"), col("id"), col("psi"))
    }
    // The ONE materializing job: computes + caches every lazy level
    // above, then truncates to the result checkpoint.
    val out = loads
      .groupBy(col("id"))
      .agg(sum(col("load")).as("load"))
      .localCheckpoint(true)
    (levels ++ spent).foreach(freeLocalCheckpoint)
    freeLocalCheckpoint(e)
    out
    } // withLoopConf
  }
}
