package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph-motif operators beyond the reference's PageRank surface: triangle
  * counting (global clustering) and bounded-hop reachability. Both are pure
  * DataFrame compositions — no GraphX, no driver-side adjacency — so they
  * inherit Catalyst planning (broadcast the small side, AQE skew handling)
  * and scale by partitioning alone.
  */
object Motifs {

  /** Shared build for both triangle censuses: undirected normalization →
    * degree → degree-ordered orientation, each stage MATERIALIZED once
    * (eager localCheckpoint). Why not leave it lazy: `oriented` feeds three
    * consumers in one census plan (wedge left, wedge right, closing join)
    * and `deg` two more, while the input edge relation is often itself
    * expensive (the g3/g5 co-occurrence self-join is 1.2M edges at sf0.1).
    * Catalyst's ReuseExchange only dedupes identically-partitioned
    * subtrees, so a lazy plan re-derives the whole build per consumer —
    * measured 124.8 executor-CPU-s for g3 before materialization. The
    * undirected relation is freed as soon as `oriented` exists; `deg` and
    * `oriented` back the returned census, and callers release them with
    * the usual persistent-RDD sweep (`RddScope` /
    * `GraftInternals.freeLocalCheckpoint`) once the result is consumed —
    * the same contract as [[kHopMinHops]]'s result checkpoint.
    */
  private[graft] def orientedGraph(edges: DataFrame): (DataFrame, DataFrame) = {
    val und = edges
      .select(
        least(col(edges.columns(0)), col(edges.columns(1))).as("a"),
        greatest(col(edges.columns(0)), col(edges.columns(1))).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true) // the expensive input relation runs ONCE
    val deg = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    // Orient by the (degree, id) total order; keep the head's (degree, id)
    // so the wedge join can order pair endpoints by the SAME total order
    // (the closing edge is oriented by it, not by raw id). Spelled as
    // primitive comparisons, not struct(..) < struct(..): struct ordering
    // drops out of whole-stage codegen into interpreted comparators, which
    // dominated the census at 82M+ evaluations (see [[closedWedges]]).
    val aLower = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val oriented = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(
        when(aLower, col("a")).otherwise(col("b")).as("u"),
        when(aLower, col("b")).otherwise(col("a")).as("v"),
        when(aLower, col("db")).otherwise(col("da")).as("dv"))
      .localCheckpoint(true)
    org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(und)
    (deg, oriented)
  }

  /** Oriented out-degree above which a vertex's wedge generation is split
    * across bucket pairs. Orientation bounds out-degree at O(√m), but at
    * 100 TB scale √m is still ~10⁵ and C(od, 2) wedges of ONE vertex would
    * land in ONE hash partition of the wedge self-join — the classic
    * power-law straggler. 4096 caps per-key join work at ~T² ≈ 17M pair
    * evaluations; every graph in this repo's bench stays below it (sf0.1
    * max oriented out-degree ≈ √(2·1.2M) ≈ 1.5k), so the split is a no-op
    * there by construction (B = 1 everywhere).
    */
  private[graft] val HubSplitThreshold = 4096L

  /** The two sides of the wedge self-join, SALTED for hub vertices — the
    * public "high/low-degree vertex partitioning" triangle trick. For a
    * vertex with out-degree od > threshold, out-neighbors hash into
    * B = ⌈od/threshold⌉ buckets; the left side replicates each edge across
    * the B values of the RIGHT bucket (by), the right side across the B
    * values of the LEFT bucket (bx), and the join keys on (u, bx, by) —
    * every neighbor pair meets in exactly one of the B² keys, each key
    * carrying ≤ ~threshold² pair evaluations. Non-hub vertices get B = 1
    * (bx = by = 0, one replica): bit-identical to the unsalted join.
    * The hub relation is tiny by definition (vertices above √m-scale
    * out-degree) and broadcasts.
    */
  private[graft] def saltedWedgeSides(
      oriented: DataFrame, threshold: Long): (DataFrame, DataFrame) = {
    val hubs = oriented.groupBy(col("u")).agg(count(lit(1)).as("od"))
      .filter(col("od") > threshold)
    val withB = oriented.join(broadcast(hubs), Seq("u"), "left")
      .withColumn("nb",
        coalesce(ceil(col("od").cast("double") / threshold).cast("int"), lit(1)))
    val x = withB.select(
      col("u"), col("v").as("v1"), col("dv").as("d1"),
      pmod(xxhash64(col("v")), col("nb")).cast("int").as("bx"),
      explode(sequence(lit(0), col("nb") - 1)).as("by"))
    val y = withB.select(
      col("u"), col("v").as("v2"), col("dv").as("d2"),
      explode(sequence(lit(0), col("nb") - 1)).as("bx"),
      pmod(xxhash64(col("v")), col("nb")).cast("int").as("by"))
    (x, y)
  }

  /** Closed wedges (u, v1, v2) of the oriented edge list: wedges (u→v1,
    * u→v2) with v1 below v2 in the (degree, id) order, closed by the
    * oriented edge (v1, v2). Each triangle appears exactly once, at its
    * lowest-ordered corner. Inner join, not semi: distinct wedges sharing
    * the same (v1, v2) close into DIFFERENT triangles and must each count
    * once; the oriented edge list is distinct, so the join multiplies by
    * exactly 1. Hub vertices generate their wedges across salted bucket
    * pairs ([[saltedWedgeSides]]) so no single partition owns a hub.
    */
  private def closedWedges(
      oriented: DataFrame,
      threshold: Long = HubSplitThreshold): DataFrame = {
    val (x, y) = saltedWedgeSides(oriented, threshold)
    // (d1, v1) < (d2, v2) lexicographically, spelled with primitive
    // comparisons: the equivalent struct(..) < struct(..) predicate is
    // evaluated by an interpreted ordering (no codegen) and at sf0.1 this
    // condition runs 82M+ times inside the wedge self-join — the struct
    // form measured ~17× slower for the whole census.
    val below = col("d1") < col("d2") || (col("d1") === col("d2") && col("v1") < col("v2"))
    // SHUFFLE_HASH on the closing side: the wedge relation is ~34× the
    // edge relation (41M wedges vs 1.2M edges at sf0.1) and Spark's
    // default SortMergeJoin sorts the WEDGE side — the single most
    // expensive stage of the census (measured ~140 executor-CPU-s).
    // Hashing the small edge side instead leaves the wedge stream
    // sort-free; the edge side exceeds the broadcast threshold and grows
    // with |E|, so a shuffled hash (per-partition build ~|E|/parts) is the
    // scale-safe strategy, not a broadcast.
    x.join(y,
        x("u") === y("u") && x("bx") === y("bx") && x("by") === y("by") && below)
      .select(x("u").as("u"), col("v1"), col("v2"))
      .join(
        oriented.select(col("u").as("v1"), col("v").as("v2")).hint("SHUFFLE_HASH"),
        Seq("v1", "v2"))
  }

  /** Global triangle census of an UNDIRECTED graph given as (a, b) pairs
    * (direction and duplicates ignored; self-loops dropped).
    *
    * Algorithm: degree-ordered orientation. Every undirected edge is
    * oriented from its lower-(degree, id) endpoint to the higher one, which
    * turns the graph into a DAG whose max out-degree is O(√m) REGARDLESS of
    * hub skew — the classic bound that keeps the wedge join from exploding
    * on power-law graphs (a hub of degree d would otherwise contribute
    * C(d,2) wedges; oriented, its out-degree is only the number of
    * HIGHER-degree neighbors, ≤ √(2m)). Wedges (u→v, u→w) are then closed
    * by an equi-join against the oriented edge (v, w): each triangle is
    * counted exactly once, at its lowest-ordered vertex.
    *
    * Returns one row: n_vertices, n_edges (undirected, deduped),
    * n_triangles, n_wedges (open+closed, orientation-invariant
    * Σ_v C(deg v, 2)) and transitivity = 3·triangles / wedges, rounded to
    * 9 places (0.0 when the graph has no wedges).
    *
    * Scale shape: two shuffles build the oriented edge list (dedup +
    * degree join), the wedge self-join and closing join are plain equi
    * hash joins on vertex ids — all AQE-replannable; nothing is collected.
    */
  def triangleStats(
      edges: DataFrame,
      hubSplitThreshold: Long = HubSplitThreshold): DataFrame = {
    val (deg, oriented) = orientedGraph(edges)
    val nTri = closedWedges(oriented, hubSplitThreshold)
      .agg(count(lit(1)).as("n_triangles"))
    val degAgg = deg.agg(
      count(lit(1)).as("n_vertices"),
      // coalesce: SUM over zero rows is NULL — an empty graph must report
      // 0 wedges (and 0.0 transitivity), not nulls.
      coalesce(expr("sum((d * (d - 1)) div 2)"), lit(0L)).as("n_wedges"))
    // Orientation is a bijection on the deduped undirected edge set, so the
    // oriented count IS the undirected edge count.
    val nEdge = oriented.agg(count(lit(1)).as("n_edges"))
    // nTri is the LEFT (streamed) side of the scalar cross-joins, NOT a
    // broadcast build side: a BroadcastExchange child is planned statically
    // (checkpoint leaves report unknown size → SortMergeJoin), so putting
    // the wedge-close subtree under it froze a 41M-row sort that AQE
    // re-plans into a broadcast hash join when the subtree stays in the
    // main adaptive plan (measured 115 → ~8 executor-CPU-s at sf0.1).
    nTri.crossJoin(degAgg).crossJoin(nEdge)
      .select(
        col("n_vertices"), col("n_edges"), col("n_triangles"), col("n_wedges"),
        round(
          when(col("n_wedges") === 0, 0.0)
            .otherwise(lit(3.0) * col("n_triangles") / col("n_wedges")), 9)
          .as("transitivity"))
  }

  /** Per-vertex LOCAL clustering coefficient — the node-level companion of
    * [[triangleStats]]'s global census, the standard graph feature for
    * ML-on-graphs / community detection:
    *   c(v) = 2·T(v) / (d(v)·(d(v)−1)),   T(v) = triangles containing v
    * (0.0 for degree ≤ 1). Same degree-ordered oriented enumeration; each
    * closed wedge (u, v1, v2) then credits ALL THREE corners (one explode,
    * one combinable count), and a left join writes zeros for triangle-free
    * vertices. Returns (id, degree, n_tri, coef) — coef rounded to 9.
    */
  def localClustering(edges: DataFrame): DataFrame = {
    val (deg, oriented) = orientedGraph(edges)
    val perVertex = closedWedges(oriented)
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_tri"))
    deg.join(perVertex, Seq("v"), "left")
      .select(
        col("v").as("id"),
        col("d").as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round(
          when(col("d") <= 1, 0.0)
            .otherwise(lit(2.0) * coalesce(col("n_tri"), lit(0L))
              / (col("d") * (col("d") - 1))), 9).as("coef"))
      .orderBy(col("id"))
  }

  /** Minimum-hop reachability: every vertex within `k` directed hops of
    * `seeds`, with its hop distance. `edges` is (src, dst); `seeds` is a
    * single-column id relation (hop 0 even if absent from the graph).
    *
    * Frontier BFS as k rounds of joins: each round expands ONLY the newest
    * frontier against the edge relation (equi join on src), then anti-joins
    * the visited set so a vertex is emitted at its first (minimum) level.
    * The edge relation is the only large input and NEVER MOVES: while the
    * reached set (the round's scalar) is small (≤ [[BroadcastFrontierMax]]
    * ids), the frontier semi-join and visited anti-join broadcast their
    * small side, making each hop a shuffle-free, sort-free scan of the
    * persisted edges
    * (measured 3× on the sf0.1 supply graph, where the default plan
    * re-shuffled + re-sorted 1.2M edges every hop to merge-join a
    * few-thousand-row frontier). Past the threshold the joins fall back
    * to Catalyst's shuffle planning — the reached set is then large
    * enough that moving the edges pays for itself. k is a bounded
    * constant: k [[Fixpoint.iterate]] rounds, no convergence test, no
    * collect. The result is the final round's checkpoint.
    */
  def kHopMinHops(edges: DataFrame, seeds: DataFrame, k: Int): DataFrame = {
    require(k >= 0 && k <= 12, s"k-hop unrolls k plan levels; got k=$k")
    val e = edges.select(col(edges.columns(0)).as("src"), col(edges.columns(1)).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The edge count that sizes the loop also materializes the persisted
    // edges the first hop was about to pay for. Exact set algebra, so the
    // loop sizing cannot change the result.
    val spark = edges.sparkSession
    try Fixpoint.withLoopConf(spark, Fixpoint.loopPartitions(spark, e.count())) {
      // Round state: every vertex reached so far with its hop level; the
      // newest level is the frontier, and a round's scalar is the reached
      // count. The edge scan and every level run ONCE — a fully lazy
      // k-level plan would re-derive the edges and all previous levels at
      // every hop (measured ~2× on the sf0.1 supply graph).
      val first = Fixpoint.Round(
        seeds.select(col(seeds.columns(0)).as("id")).distinct().withColumn("hops", lit(0)),
        (s: DataFrame) => s.count())
      val (visited, _, _) = Fixpoint.iterate(first, k, "k-hop BFS") { (visited, reached, h) =>
        if (h == k) None
        else {
          val small = reached <= BroadcastFrontierMax
          val frontier = visited.filter(col("hops") === h).select(col("id"))
          val ids = visited.select(col("id"))
          val fSide = if (small) broadcast(frontier) else frontier
          val vSide = if (small) broadcast(ids) else ids
          val next = e.join(fSide, e("src") === frontier("id"), "left_semi")
            .select(col("dst").as("id"))
            .distinct()
            .join(vSide, Seq("id"), "left_anti")
          Some(Fixpoint.Round(visited.unionAll(next.withColumn("hops", lit(h + 1))),
            (s: DataFrame) => s.count()))
        }
      }
      visited
    } finally e.unpersist()
  }

  /** Reached-set size up to which the BFS frontier/visited relations are
    * broadcast (~8 MB of long ids at the default): far below executor
    * memory, far above typical bounded-hop reach.
    */
  private val BroadcastFrontierMax = 1000000L

  /** Co-occurrence network: undirected item–item edges (a, b), a < b,
    * linking items that share at least one group — e.g. parts appearing in
    * the same order (a bipartite item↔group relation itself is
    * triangle-free; its one-mode projection is where motifs live). `rel`
    * is a (group, item) relation, deduped here. Per-group fan-out is
    * C(group size, 2) — bounded when group sizes are (order lines: ≤7);
    * for heavy-tailed group sizes cap or sample groups first.
    */
  def coOccurrence(rel: DataFrame, group: String, item: String): DataFrame = {
    val base = rel.select(col(group).as("p"), col(item).as("s")).distinct()
    val l = base.select(col("p"), col("s").as("a"))
    val r = base.select(col("p").as("p2"), col("s").as("b"))
    l.join(r, l("p") === r("p2") && (col("a") < col("b")))
      .select(col("a"), col("b"))
      .distinct()
  }
}
