package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** HITS (hubs and authorities), fixed iterations with L1 normalization:
  *   a_i(v) = Σ_{u→v} h_{i-1}(u)   then  a_i ← a_i / Σ a_i
  *   h_i(v) = Σ_{v→u} a_i(u)       then  h_i ← h_i / Σ h_i
  * starting from h_0 = 1/N. Exactly ANSI-SQL-unrollable (the oracle chain
  * is generated by `api.GraphQueries`), like the fixed-iteration PageRank.
  *
  * Scale shape: HITS alternates join direction every half-step, so the
  * deduped edge relation is persisted TWICE — hash-partitioned by `src`
  * (the authority step looks up h(u) by source) and by `dst` (the hub
  * step looks up a(u) by destination) — and neither copy moves again.
  * The hub/authority state is [[Fixpoint.keyed]] by `id` into the same
  * partitions, so both of a half-step's joins run in place and only the
  * map-side-combined contribution partials shuffle. The per-half-step
  * global sum is the round's one action in [[Fixpoint.iterate]] (map-side-
  * combined partials, one driver value), the same pattern as the
  * renormalizing PageRank's correction term.
  */
object Hits {

  def fixedIterations(
      spark: SparkSession,
      edges: DataFrame,
      iterations: Int): DataFrame = {
    // With 0 iterations there is no authority vector to report.
    require(iterations >= 1, s"HITS needs at least 1 iteration; got $iterations")
    val e0 = edges
      .select(col(edges.columns(0)).as("src"), col(edges.columns(1)).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val parts = Fixpoint.loopPartitions(spark, e0.count())
      Fixpoint.withLoopConf(spark, parts) {
        val verts = PageRank.vertices(e0).persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val n = verts.count()
          if (n == 0) verts.select(col("id"), lit(0.0).as("authority"), lit(0.0).as("hub"))
          else {
            val bySrc = Fixpoint.placed(e0, parts, "src")
            val byDst =
              try Fixpoint.placed(e0, parts, "dst")
              catch { case t: Throwable => bySrc.unpersist(); throw t }
            e0.unpersist()
            try {
              // One round per half-step: odd rounds compute authorities from
              // hubs, even rounds hubs from authorities. A round's checkpoint
              // holds (id, raw score, the normalized vector it was computed
              // from), its scalar is the raw total, and the normalized scores
              // are a lazy division over the checkpoint. h_0 = 1/N is already
              // normalized, so round 0's total is exactly 1.
              val first = Fixpoint.Round(Fixpoint.keyed(
                verts.select(col("id"), lit(1.0 / n).as("score"), lit(0.0).as("other")),
                parts, "id"),
                (s: DataFrame) => { s.count(); 1.0 })
              val (last, total, _) = Fixpoint.iterate(first, 2 * iterations, "HITS") {
                (state, total, r) =>
                  if (r == 2 * iterations) None
                  else {
                    val cur = state.select(col("id"), (col("score") / lit(total)).as("score"))
                    val (e, from, to) = if (r % 2 == 0) (bySrc, "src", "dst") else (byDst, "dst", "src")
                    val raw = e
                      .join(Fixpoint.inPlace(cur), e(from) === cur("id"))
                      .select(e(to), col("score"))
                      .groupBy(col(to))
                      .agg(sum(col("score")).as("s"))
                    Some(Fixpoint.Round(
                      cur.join(Fixpoint.inPlace(raw), cur("id") === raw(to), "left")
                        .select(cur("id"), coalesce(col("s"), lit(0.0)).as("score"),
                          cur("score").as("other")),
                      (s: DataFrame) => s.agg(sum(col("score"))).head.getDouble(0)))
                  }
              }
              try last.select(col("id"), col("other").as("authority"),
                  (col("score") / lit(total)).as("hub"))
                .localCheckpoint(true)
              finally org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(last)
            } finally { bySrc.unpersist(); byDst.unpersist() }
          }
        } finally verts.unpersist()
      }
    } finally e0.unpersist()
  }
}
