package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deterministic seeded random walks — the corpus generator for
  * embedding-style graph training data (DeepWalk, Perozzi et al. KDD'14 /
  * node2vec, Grover & Leskovec KDD'16, with p=q=1 uniform transitions).
  *
  * Instead of an RNG, each step picks the neighbor minimizing the
  * engine-portable draw `md5(walk_id ':' step ':' cur ':' dst)`
  * ([[graft.ops.Portable.md5Long]], ties broken by dst) — for a uniform
  * hash this IS a uniform choice among the neighbors, yet the walk is a
  * pure function of (graph, walk_id, step), so reruns are byte-identical,
  * a DuckDB oracle reproduces every transition, and a resumed/retried
  * task regenerates the same corpus — the reproducibility property a
  * training pipeline actually wants from its walk generator.
  *
  * The per-step argmin is duplicate-insensitive (min over a multiset),
  * so the edge relation needs NO dedup shuffle — same trick as the g4
  * BFS. Two execution shapes, both producing identical output
  * (spec-asserted):
  *
  *  - `walk` (frontier-broadcast): each step joins the |walks|-row
  *    frontier by broadcast against the edge relation — edges are never
  *    shuffled at all. Right while total frontier bytes stay
  *    driver/broadcast-sized (≲ millions of walks).
  *  - `walkShuffled` (co-partitioned): the edge relation is
  *    [[Fixpoint.placed]] by src ONCE, and each step's join exchanges
  *    only the |walks|-row frontier onto that fixed layout. On local[32]
  *    the broadcast shape wins every measured point up to 2M concurrent
  *    walks (AbWalkScale: 44.8 s vs 193.0 s at 2M — local "broadcast" is
  *    a free shared hash table);
  *    this shape exists for the ceiling a CLUSTER hits: ~75 B/walk of
  *    broadcast hash table replicated to every executor per step and
  *    built through one node (100M walks ≈ 7.5 GB against the 8 GB
  *    broadcast cap × the fleet's network). Hub skew stays bounded in
  *    both shapes because a walk contributes exactly ONE frontier row
  *    per step (no wedge-style expansion).
  *
  * Returns (walk_id, step, node): steps 0..steps, step 0 = the seed.
  * Dead-end walks (no out-edge) simply stop early — their later steps
  * are absent, not null.
  */
object RandomWalks {

  /** @param edges (src, dst) directed edge relation; pass both directions
    *              for an undirected walk
    * @param seeds one column `id`; one walk starts per (seed, walk index)
    * @param steps number of transitions (output has up to steps+1 rows
    *              per walk)
    * @param nWalks walks per seed, distinguished in the hash by the
    *               walk_id suffix `#i`
    */
  def walk(edges: DataFrame, seeds: DataFrame, steps: Int, nWalks: Int = 1): DataFrame = {
    val (walkIds, e0) = prepare(edges, seeds, steps, nWalks)
    // Materialize the edge projection ONCE (eager localCheckpoint): the
    // frontier-broadcast loop streams the edge relation at every step, and
    // the lazy per-step union re-derives step j's whole chain per branch —
    // so the caller's edge pipeline (g15: lineitem scan + concat + union,
    // 1.2M rows at sf0.1) would otherwise run O(steps²) times. The backing
    // is reachable from every step of the returned plan, so the caller's
    // standard post-consumption sweep frees it (QueriesSpec contract).
    val e = if (steps >= 1) e0.localCheckpoint(true) else e0
    var frontier = walkIds
    var out = frontier.select(col("walk_id"), lit(0).as("step"),
      col("cur").as("node"))
    var j = 1
    while (j <= steps) {
      // min(struct(h, dst)) = argmin by draw with dst tie-break — one
      // deterministic aggregation, no window sort over the edge relation.
      // LAZY per-step checkpoint PAST step 1: each later frontier becomes
      // a LogicalRDD leaf, so the step plans and the `out` union grow
      // O(steps) instead of O(steps²) (every union branch used to
      // re-embed the whole chain up to its step). Step 1 stays a plain
      // plan: it is the loop's representative shape in the returned plan
      // (PlanShapeSpec pins its broadcast + edge-stream join there) and
      // the path that keeps the `e` checkpoint REACHABLE from the result
      // — the leak-sweep contract (QueriesSpec) frees backings by
      // plan-reachability. No extra jobs — the caller's first action
      // materializes the chain.
      frontier = broadcast(frontier)
        .join(e, col("cur") === col("src"))
        .groupBy(col("walk_id"))
        .agg(min(struct(draw(j).as("h"), col("dst"))).as("pick"))
        .select(col("walk_id"), col("pick.dst").as("cur"))
      if (j >= 2) frontier = frontier.localCheckpoint(false)
      out = out.unionAll(frontier.select(col("walk_id"), lit(j).as("step"),
        col("cur").as("node")))
      j += 1
    }
    out.orderBy(col("walk_id"), col("step"))
  }

  /** [[walk]]'s at-scale twin: same output, edges persisted
    * hash-partitioned by src once, frontier checkpointed per step (tiny)
    * so only it moves. The result is eagerly checkpointed before the
    * edge cache and per-step frontiers are released, so the returned
    * frame owns its single persisted backing (leak-neutral). The steps
    * are not a [[Fixpoint.iterate]] loop: every step's frontier is part
    * of the returned corpus, so none is superseded, and a step has no
    * scalar to act on.
    */
  def walkShuffled(
      edges: DataFrame, seeds: DataFrame, steps: Int, nWalks: Int = 1): DataFrame = {
    val (walkIds, e0) = prepare(edges, seeds, steps, nWalks)
    onPlacedEdges(e0) { e =>
      var frontier = walkIds.localCheckpoint(true)
      var out = frontier.select(col("walk_id"), lit(0).as("step"),
        col("cur").as("node"))
      var j = 1
      while (j <= steps) {
        frontier = e.join(frontier, col("cur") === col("src"))
          .groupBy(col("walk_id"))
          .agg(min(struct(draw(j).as("h"), col("dst"))).as("pick"))
          .select(col("walk_id"), col("pick.dst").as("cur"))
          .localCheckpoint(true)
        out = out.unionAll(frontier.select(col("walk_id"), lit(j).as("step"),
          col("cur").as("node")))
        j += 1
      }
      out.orderBy(col("walk_id"), col("step"))
    }
  }

  /** node2vec-BIASED walk (Grover & Leskovec, KDD 2016): the transition
    * out of `cur` is weighted by where the walk just came from — return
    * edges (dst = prev) by 1/p, triangle edges (dst adjacent to prev)
    * by 1, outward edges by 1/q. Shipped at integer weight classes
    * (`retW`, `inW`, `outW`) = (1, 2, 4) ≡ (p, q) = (2, ½): the
    * DFS-leaning setting that makes walk corpora capture structural
    * roles. The first step has no previous node and is uniform.
    *
    * EXACT portable weighted sampling with no RNG and no float pow/ln:
    * each candidate edge replicates into `weight` iid md5 draws
    * (`md5(walk ':' step ':' dst ':' r)`) and the step takes the global
    * argmin. The argmin of iid uniforms is uniform over REPLICAS, so a
    * candidate wins with probability exactly weight/Σweights — and the
    * walk stays a pure function of (graph, walk_id, step), reproducible
    * across reruns, retries, AND engines (the g16 DuckDB oracle replays
    * every unrolled step bit-for-bit; Efraimidis–Spirakis keys would
    * need u^(1/w), whose last-ulp rounding differs between engines).
    *
    * The adjacency test probes the edges OF THE FRONTIER'S prev NODES
    * only: per step, the checkpointed edge relation is streamed once
    * against the broadcast |walks|-row prev set (left-semi — no shuffle,
    * no global dedup), and the resulting |walks|·deg(prev)-bounded
    * relation broadcasts into the candidate left join. A global
    * dropDuplicates over the edges is unnecessary: the per-step argmin is
    * duplicate-insensitive (identical rows explode into IDENTICAL
    * (dst, r) draws — min over a multiset), so adjacency-side
    * multiplicity from parallel edges changes nothing, exactly as
    * candidate-side multiplicity already did — simple-graph node2vec
    * semantics either way, bit-identical picks (spec-pinned against
    * [[walkBiasedShuffled]], which keeps the deduped co-partitioned
    * probe). This removes the former per-step shuffle+sort of the FULL
    * deduped edge relation (1.2M rows at sf0.1, re-exchanged at every
    * step of g16–g19 because a checkpoint leaf reports no size estimate
    * and the left join fell to sort-merge). Frontier stays one row per
    * walk per step; at cluster scale (unbounded walk counts) the
    * bucketed-by-src layout of [[walkBiasedShuffled]] is the right shape.
    */
  def walkBiased(
      edges: DataFrame, seeds: DataFrame, steps: Int, nWalks: Int = 1,
      retW: Int = 1, inW: Int = 2, outW: Int = 4): DataFrame = {
    require(retW >= 1 && inW >= 1 && outW >= 1, "weights must be >= 1")
    val (walkIds, e0) = prepare(edges, seeds, steps, nWalks)
    // Edge projection materialized once — see [[walk]] (the lazy union
    // re-derives each step's chain per branch; here the adjacency probe
    // streams it a second time per step).
    val e = if (steps >= 1) e0.localCheckpoint(true) else e0
    var frontier = walkIds.withColumn("prev", lit(null).cast("string"))
    var out = frontier.select(col("walk_id"), lit(0).as("step"),
      col("cur").as("node"))
    var j = 1
    while (j <= steps) {
      val drawB = graft.ops.Portable.md5Long(
        concat_ws(":", col("walk_id"), lit(j), col("cur"), col("dst"), col("r")))
      val cands = broadcast(frontier).join(e, col("cur") === col("src"))
      val weighted =
        if (j == 1)
          // No previous node: every neighbor weighs 1 — the same draws as
          // the all-null `prev IS NULL` arm (w = 1 → r = 1 only), the
          // walkBiasedShuffled step-1 idiom, bit-identical picks.
          cands.select(col("walk_id"), col("cur"), col("dst"),
            lit(1).as("r"))
        else {
          // (prev, dst) adjacency probe bounded by the frontier: stream
          // the edges once against the broadcast prev set, broadcast the
          // small result into the candidate left join. Multiplicity from
          // parallel edges is harmless (identical draws — see scaladoc).
          val prevAdj = e
            .join(broadcast(frontier.select(col("prev").as("ps"))),
              col("src") === col("ps"), "left_semi")
            .select(col("src").as("a_src"), col("dst").as("a_dst"),
              lit(1).as("adj"))
          val w = when(col("dst") === col("prev"), lit(retW))
            .when(col("adj") === 1, lit(inW))
            .otherwise(lit(outW))
          cands
            .join(broadcast(prevAdj),
              col("prev") === col("a_src") && col("dst") === col("a_dst"),
              "left")
            .select(col("walk_id"), col("cur"), col("dst"),
              explode(sequence(lit(1), w)).as("r"))
        }
      // LAZY per-step checkpoint PAST step 1 (the r18 ADVICE item): from
      // step 2 on the loop references the frontier TWICE per step (the
      // candidate join and the prevAdj prev-set), so the un-checkpointed
      // logical plan re-embedded the whole chain per reference and grew
      // ~2^steps (captured: 12 → 74 RDD scans at steps=4; node2vec-
      // typical walk lengths would hang the planner). As a LogicalRDD
      // leaf each step plans against the previous step's RDD, so plans
      // stay O(1) per step and the RDD DAG O(steps). Step 1 stays a
      // plain plan — the loop's representative shape in the returned
      // plan (PlanShapeSpec pins it) and the path that keeps the `e`
      // checkpoint REACHABLE from the result for the leak-sweep contract
      // (QueriesSpec frees backings by plan-reachability). No extra jobs
      // — the caller's first action materializes the chain.
      frontier = weighted
        .groupBy(col("walk_id"))
        .agg(min(struct(drawB.as("h"), col("dst"), col("r"))).as("pick"),
          first(col("cur")).as("was"))
        .select(col("walk_id"), col("was").as("prev"),
          col("pick.dst").as("cur"))
      if (j >= 2) frontier = frontier.localCheckpoint(false)
      out = out.unionAll(frontier.select(col("walk_id"), lit(j).as("step"),
        col("cur").as("node")))
      j += 1
    }
    out.orderBy(col("walk_id"), col("step"))
  }

  /** [[walkBiased]]'s at-scale twin — the co-partitioned biased walk the
    * scaladoc above promises. Identical output (spec-asserted, the
    * `walk`/`walkShuffled` equality pattern); execution differs:
    *
    *  - the edge relation is persisted hash-partitioned by `src` ONCE
    *    ([[Fixpoint.placed]]) — each step's
    *    frontier probe exchanges only the |walks|-row frontier onto that
    *    fixed layout, never the edges;
    *  - the (prev, dst) adjacency relation is DERIVED from that same
    *    layout: `dropDuplicates(src, dst)` on a src-partitioned relation
    *    needs no new exchange (src-clustering satisfies the (src, dst)
    *    distribution), so the dedup'd adjacency inherits the bucketed-
    *    by-src layout and is persisted once. The per-step candidate
    *    stream (|walks| × avg-degree rows) shuffles on (prev, dst) to
    *    meet it — a co-partitioned hash join against a parked relation,
    *    NOT a per-step broadcast of a growing frontier hash table;
    *  - step 1 skips the adjacency probe entirely: with no previous node
    *    every candidate weighs 1 (exactly [[walkBiased]]'s `prev IS
    *    NULL` arm, same draw at r = 1, so picks are bit-identical) —
    *    which also keeps the all-null `prev` key of step 1 from hashing
    *    the whole candidate stream into one partition;
    *  - frontier checkpointed per step (lineage stays flat); result
    *    eagerly checkpointed, all other backings swept (leak-neutral).
    *
    * This removes the broadcast-frontier ceiling (~8 GB / replicated
    * per-executor build) the uniform walk already documents, which the
    * biased walk hits SOONER: its frontier carries the extra `prev`
    * column (more bytes/walk) and its candidate stream is degree-
    * multiplied before the argmin.
    */
  def walkBiasedShuffled(
      edges: DataFrame, seeds: DataFrame, steps: Int, nWalks: Int = 1,
      retW: Int = 1, inW: Int = 2, outW: Int = 4): DataFrame = {
    require(retW >= 1 && inW >= 1 && outW >= 1, "weights must be >= 1")
    val (walkIds, e0) = prepare(edges, seeds, steps, nWalks)
    onPlacedEdges(e0) { e =>
      val aRel = e.dropDuplicates("src", "dst")
        .select(col("src").as("a_src"), col("dst").as("a_dst"),
          lit(1).as("adj"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      aRel.count()
      var frontier = walkIds
        .withColumn("prev", lit(null).cast("string")).localCheckpoint(true)
      var out = frontier.select(col("walk_id"), lit(0).as("step"),
        col("cur").as("node"))
      var j = 1
      while (j <= steps) {
        val drawB = graft.ops.Portable.md5Long(
          concat_ws(":", col("walk_id"), lit(j), col("cur"), col("dst"),
            col("r")))
        val cands = e.join(frontier, col("cur") === col("src"))
        val weighted =
          if (j == 1)
            // no previous node: every neighbor weighs 1 (r = 1 only)
            cands.select(col("walk_id"), col("cur"), col("dst"),
              lit(1).as("r"))
          else {
            val w = when(col("dst") === col("prev"), lit(retW))
              .when(col("adj") === 1, lit(inW))
              .otherwise(lit(outW))
            cands
              .join(aRel, col("prev") === col("a_src") &&
                col("dst") === col("a_dst"), "left")
              .select(col("walk_id"), col("cur"), col("dst"),
                explode(sequence(lit(1), w)).as("r"))
          }
        frontier = weighted
          .groupBy(col("walk_id"))
          .agg(min(struct(drawB.as("h"), col("dst"), col("r"))).as("pick"),
            first(col("cur")).as("was"))
          .select(col("walk_id"), col("was").as("prev"),
            col("pick.dst").as("cur"))
          .localCheckpoint(true)
        out = out.unionAll(frontier.select(col("walk_id"), lit(j).as("step"),
          col("cur").as("node")))
        j += 1
      }
      out.orderBy(col("walk_id"), col("step"))
    }
  }

  /** Skip-gram (center, context) pair counts over a walk corpus — the
    * training-data emission step of DeepWalk/node2vec: within each
    * walk, every ordered pair of nodes at step distance 1..`window`
    * becomes one example; counts aggregate corpus-wide. One self-equi-
    * join on walk_id (bounded fan-out: ≤ 2·window matches per row since
    * walks are ≤ steps+1 long) + one map-side-combinable count. Pass an
    * eagerly-checkpointed walk relation when the walk itself is an
    * iterative plan — the self-join consumes it twice.
    */
  def skipGrams(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1; got $window")
    walks
      .select(col("walk_id"), col("step").as("sa"), col("node").as("center"))
      .join(walks.select(col("walk_id"), col("step").as("sb"),
        col("node").as("context")), "walk_id")
      .filter(col("sa") =!= col("sb") &&
        abs(col("sa") - col("sb")) <= window)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("center"), col("context"))
  }

  /** The shuffled walks' shared frame: `body` runs on the edges
    * [[Fixpoint.placed]] by src, sized to the graph; its result is
    * eagerly checkpointed, then everything else this call persisted (edge
    * cache, per-step frontiers) is released, so the result owns its one
    * checkpoint backing.
    */
  private def onPlacedEdges(e0: DataFrame)(body: DataFrame => DataFrame): DataFrame = {
    val spark = e0.sparkSession
    val before = graft.RddScope.persisted(spark)
    val pre = e0.persist(StorageLevel.MEMORY_AND_DISK)
    val parts = Fixpoint.loopPartitions(spark, pre.count())
    val result = Fixpoint.withLoopConf(spark, parts) {
      val e = Fixpoint.placed(pre, parts, "src")
      pre.unpersist()
      body(e).localCheckpoint(true)
    }
    graft.RddScope.sweepExcept(spark, before, result)
    result
  }

  private def draw(step: Int): Column =
    graft.ops.Portable.md5Long(
      concat_ws(":", col("walk_id"), lit(step), col("cur"), col("dst")))

  private def prepare(
      edges: DataFrame, seeds: DataFrame, steps: Int,
      nWalks: Int): (DataFrame, DataFrame) = {
    require(steps >= 0, s"steps must be >= 0; got $steps")
    require(nWalks >= 1, s"nWalks must be >= 1; got $nWalks")
    val spark = edges.sparkSession
    val walkIds = seeds
      .crossJoin(spark.range(nWalks).select(col("id").cast("int").as("w")))
      .select(concat_ws("#", col("id"), col("w")).as("walk_id"),
        col("id").cast("string").as("cur"))
    val e = edges.select(col("src").cast("string").as("src"),
      col("dst").cast("string").as("dst"))
    (walkIds, e)
  }
}
