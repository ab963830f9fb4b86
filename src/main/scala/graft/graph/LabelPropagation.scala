package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded synchronous label propagation (community detection): every
  * vertex starts labeled with its own id; each round it adopts the label
  * most frequent among its neighbors PLUS its own current label (the
  * self-vote damps the 2-cycle oscillation synchronous LPA exhibits on
  * bipartite graphs), ties broken toward the smallest label — fully
  * deterministic, so an unrolled SQL oracle mirrors it round for round
  * (Raghavan et al. 2007, "Near linear time algorithm to detect community
  * structures in large-scale networks"; the deterministic variant GraphX's
  * `lib.LabelPropagation` also uses, minus the self-vote).
  *
  * Once a round changes no label the map is a fixpoint of the (pure)
  * update rule, so the loop stops early — further rounds are identities
  * in both engines and results stay hash-comparable.
  *
  * Scale shape: the symmetrized edge relation is persisted hash-
  * partitioned by src ONCE and the label map is [[Fixpoint.keyed]] by id
  * into the same partitions; per round ONE in-place join of the two
  * (neither side moves), then two map-side-combinable aggregations — the
  * argmax is `max(struct(count, -label))`, no window, no shuffle beyond
  * the groupBy. Labels advance through [[Fixpoint.iterate]]; the caller
  * sweeps the final checkpoint. Power-law probe, ≤4-round
  * runs at local[32]: ~7 s at 2M edges,
  * ~65–69 s at 20M (an upper bound — the same 20M session's SSSP/k-core
  * legs read 2–4× above their documented idle-box walls, i.e. a
  * contended run) — ~linear in |E|; the vote join on |E| dominates, the
  * same per-round profile as the PageRank loop. Early stop is possible,
  * so per-round division would understate cost.
  */
object LabelPropagation {

  /** `edges`: directed pair list over non-negative long vertex ids,
    * symmetrized + deduped here (self-loops dropped — a self-loop would
    * double a vertex's self-vote). Returns (id, label) for every
    * non-isolated vertex.
    */
  def run(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 12,
      s"labelPropagation unrolls `rounds` plan levels; got rounds=$rounds")
    val spark = edges.sparkSession
    // The symmetrized relation is placed by src once and the labels keyed
    // by id into the same partitions: the per-round vote join moves
    // neither. Before the placement, every round re-shuffled the full
    // edge relation for the join — at the 100M-edge XL point that
    // per-round exchange was the dominant share of 87 GB of spill.
    val pre = Undirected.symmetrize(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val parts = Fixpoint.loopPartitions(spark, pre.count())
      Fixpoint.withLoopConf(spark, parts) {
        val e = Fixpoint.placed(pre, parts, "src")
        pre.unpersist()
        try {
          // Symmetrized: every vertex occurs as src, so the vertex set is
          // one distinct over src. A round's scalar: whether it changed no
          // label (the map is then a fixpoint and the loop stops).
          val first = Fixpoint.Round(Fixpoint.keyed(
            e.select(col("src").as("id")).distinct().select(col("id"), col("id").as("label")),
            parts, "id"),
            (l: DataFrame) => { l.count(); false })
          val (labels, _, _) = Fixpoint.iterate(first, rounds, "label propagation") {
            (labels, done, r) =>
              if (done || r == rounds) None
              else {
                val votes = e.join(Fixpoint.inPlace(labels), e("src") === labels("id"))
                  .select(e("dst").as("id"), col("label"))
                  .unionAll(labels)
                val next = votes
                  .groupBy(col("id"), col("label")).agg(count(lit(1)).as("c"))
                  .groupBy(col("id"))
                  // argmax by (count desc, label asc): struct compare is
                  // lexicographic, so max picks the highest count, then the
                  // highest -label = the SMALLEST label.
                  .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
                  .select(col("id"), (-col("m.nl")).as("label"))
                // The final bounded round has no later round to skip, so
                // its action is a plain count, not the |V|-row compare.
                Some(Fixpoint.Round(next, (l: DataFrame) =>
                  if (r + 1 == rounds) { l.count(); false }
                  else l.join(Fixpoint.inPlace(
                        labels.select(col("id").as("pid"), col("label").as("prev"))),
                      col("id") === col("pid"))
                    .filter(col("label") =!= col("prev"))
                    .count() == 0))
              }
          }
          labels
        } finally e.unpersist()
      }
    } finally pre.unpersist()
  }
}
