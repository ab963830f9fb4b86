package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint
import org.apache.spark.storage.StorageLevel

/** The iterative-fixpoint driver behind this package's loops (PageRank,
  * connected components, label propagation, HITS, k-core, shortest
  * paths, SCC, k-hop BFS). It owns three decisions, so each loop states
  * only its own round:
  *
  *  - '''Loop sizing''' ([[loopPartitions]], [[withLoopConf]]): a loop's
  *    shuffles are sized to its graph, not the session, and run with AQE
  *    off. On a toy graph the session partition count schedules thousands
  *    of mostly-empty tasks across the rounds, and per-round driver
  *    latency, not compute, becomes the whole cost (the r18 scaling runs
  *    measured the unsized loops SLOWER at 32 cores than at 8: g6 2.8×,
  *    g13 3×). The loop's shapes are known up front, so adaptive planning
  *    buys nothing, and its shuffle coalescing could move a stage off a
  *    [[placed]] partitioning and force a re-exchange every round.
  *  - '''The placed loop invariant''' ([[placed]]): the big side (the edge
  *    relation) is hash-partitioned by the join key once, sorted within
  *    partitions and persisted, so only the |V|-sized round state moves.
  *  - '''The round loop''' ([[iterate]]): each round's output is
  *    checkpointed LAZILY, and the round's one action (its convergence
  *    scalar) is what computes the round and materializes the checkpoint,
  *    so a round costs one action and the lineage stays one level deep.
  *    The superseded checkpoint is freed once its successor exists
  *    (`Dataset.unpersist` is a no-op for local checkpoints; see
  *    `GraftInternals.freeLocalCheckpoint`), a round guard bounds the
  *    loop, and every live checkpoint is freed if a round throws.
  *
  * The checkpointed state carries a size estimate, so while |V| is below
  * the broadcast threshold Catalyst plans the state side of a round's
  * joins as a broadcast (`BroadcastHashJoin … BuildRight`): a round's
  * action is then two driver jobs, the `BroadcastExchange` and the
  * aggregate itself.
  */
private[graft] object Fixpoint {

  /** One round: its lazy `output`, and the `measure` run on the output's
    * checkpoint. `measure` is the round's one action; it must read every
    * partition (a count or a global aggregate does), since that is what
    * materializes the checkpoint.
    */
  final case class Round[T](output: DataFrame, measure: DataFrame => T)

  /** ~one loop partition per this many edges. */
  private val EdgesPerPartition = 250000L

  /** Shuffle-partition count for a loop over `edgeCount` edges: one
    * partition per 250k edges, capped at the session's
    * `spark.sql.shuffle.partitions` (at cluster scale the cap wins and
    * this is a no-op).
    */
  def loopPartitions(spark: SparkSession, edgeCount: Long): Int = {
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1L, math.min(session.toLong,
      (edgeCount + EdgesPerPartition - 1) / EdgesPerPartition)).toInt
  }

  /** Run `body` with `parts` shuffle partitions and AQE off; the session's
    * values are restored even on failure.
    */
  def withLoopConf[T](spark: SparkSession, parts: Int)(body: => T): T = {
    val oldParts = spark.conf.get("spark.sql.shuffle.partitions")
    val oldAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", oldParts)
      spark.conf.set("spark.sql.adaptive.enabled", oldAqe)
    }
  }

  /** `df` hash-partitioned by `key` into `parts` partitions, sorted by
    * `key` within them, persisted and materialized. Each round's join on
    * `key` then reuses the partitioning with zero re-exchange. The sort
    * runs once: when the state side is too big to broadcast the join is
    * a sort-merge, and the cached relation's advertised ordering lets it
    * skip the |E|-row sort every round; either way the rows reach the
    * per-key sums in the same order.
    */
  def placed(df: DataFrame, parts: Int, key: String): DataFrame = {
    val p = df.repartition(parts, col(key))
      .sortWithinPartitions(col(key))
      .persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** Run rounds from `init` until `step` returns `None`. Round 0 is
    * `init`; given round r's checkpoint, its scalar and r, `step` returns
    * round r + 1, or `None` once converged. Each round's output is lazily
    * checkpointed and measured, then round r's checkpoint is freed.
    * Asking for more than `maxRounds` rounds fails with "`what` did not
    * converge within `maxRounds` rounds". Returns the last round's
    * checkpoint (now the caller's to free), its scalar and its index.
    */
  def iterate[T](init: Round[T], maxRounds: Int, what: String)(
      step: (DataFrame, T, Int) => Option[Round[T]]): (DataFrame, T, Int) = {
    var state: DataFrame = null
    var next: DataFrame = null
    try {
      next = init.output.localCheckpoint(false)
      var t = init.measure(next)
      state = next
      next = null
      var round = 0
      var more = step(state, t, round)
      while (more.isDefined) {
        round += 1
        require(round <= maxRounds, s"$what did not converge within $maxRounds rounds")
        next = more.get.output.localCheckpoint(false)
        t = more.get.measure(next)
        freeLocalCheckpoint(state)
        state = next
        next = null
        more = step(state, t, round)
      }
      (state, t, round)
    } catch {
      case e: Throwable =>
        if (next != null) freeLocalCheckpoint(next)
        if (state != null) freeLocalCheckpoint(state)
        throw e
    }
  }
}
