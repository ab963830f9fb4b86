package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed PageRank over an edge-list DataFrame `(src LONG, dst LONG)`.
  *
  * Re-expression of the reference Block-Stripe Update pipeline
  * (`/root/reference/pageRank.py:116-145`) as a Spark dataflow:
  * the per-iteration "stripe pass" is an in-place hash join of the
  * (static) edge relation with the (evolving) rank relation, both hash-
  * partitioned by the vertex key into the same partitions, followed by a
  * shuffled partial+final sum aggregation keyed by `dst` — Spark's hash
  * partitioning of that shuffle IS the block-stripe decomposition, with
  * `spark.sql.shuffle.partitions` playing the role of the block count
  * (`/root/reference/pageRank.py:96-113`).
  *
  * Scale design (100 TB mindset):
  *  - the edge relation (the big side) is joined with out-degrees ONCE,
  *    hash-partitioned by `src` and persisted, and the rank table (|V|
  *    rows) is [[Fixpoint.keyed]] the same way, so neither side of an
  *    iteration's joins moves: its one shuffle is the per-`dst` sums;
  *  - no vertex list is ever collected to the driver (the reference's
  *    `all_node` Python list at `pageRank.py:47-53` does not scale);
  *  - ONE fused scalar aggregate per iteration crosses to the driver
  *    (L1 delta + next iteration's live mass, from which the lost-mass
  *    sum derives — `pageRank.py:133,137-139`);
  *  - loop sizing, lineage truncation and checkpoint hygiene are
  *    [[Fixpoint]]'s.
  */
object PageRank {

  /** Reference defaults: β at `pageRank.py:8`, δ at `pageRank.py:9`. */
  case class Params(
      beta: Double = 0.85,
      delta: Double = 1e-5,
      maxIter: Int = 100)

  /** S1: whitespace-separated two-column edge text (e.g. WikiData.txt),
    * schema imposed at read — never inferred (`pageRank.py:31-35`).
    */
  def edgesFromText(spark: SparkSession, path: String): DataFrame = {
    // FAILFAST: a ragged/non-numeric row is a data error, not a null edge
    // (SURVEY §7.6 — the reference's np.loadtxt likewise throws; permissive
    // mode would silently feed null vertex ids into every downstream agg).
    spark.read
      .schema("src LONG, dst LONG")
      .option("delimiter", "\t")
      .option("comment", "#")
      .option("mode", "FAILFAST")
      .csv(path)
  }

  /** A1: vertex extraction — distinct union of both endpoint columns. */
  def vertices(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct()

  /** A2: out-degree per source. */
  def outDegrees(edges: DataFrame): DataFrame =
    edges.groupBy(col("src")).agg(count(lit(1)).as("out_degree"))

  /** Result of a converged run. `ranks` is backed by a local checkpoint
    * (independent of the input graph, which is already freed); call
    * [[release]] once the ranks are consumed so repeated runs in one
    * session keep the persistent-RDD count flat.
    */
  case class RankResult(ranks: DataFrame, iterations: Int, finalDelta: Double) {
    /** Free the checkpoint blocks backing `ranks`. The DataFrame must not
      * be used afterwards (its leaf RDD is gone).
      */
    def release(): Unit = PageRank.release(ranks)
  }

  /** Free the localCheckpoint backing of an iterative result (covers
    * [[fixedIterations]] outputs, which return a bare DataFrame). No-op for
    * non-checkpointed plans.
    */
  def release(ranks: DataFrame): Unit =
    org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(ranks)

  /** Loop-invariant relations, persisted once and shared across runs —
    * the optimization SURVEY §2.9/I2 notes the reference misses (it
    * reloads + re-stripes per β, README.md:273-283). `linked` carries each
    * edge with its source's out-degree, [[Fixpoint.placed]] by `src` into
    * `parts` partitions, so every iteration of every sweep member is a
    * single equi join + keyed sum over already-placed data. `parts` is
    * sized to the EDGE count and recorded here so the iteration loops run
    * with the same shuffle partition count as the placed partitioning.
    */
  final case class PreparedGraph(verts: DataFrame, linked: DataFrame, n: Long, parts: Int) {
    def unpersist(): Unit = { linked.unpersist(); verts.unpersist(); () }
  }

  /** Build and materialize the loop invariants. The caller's edge pipeline
    * (often scan + distinct) feeds three consumers — it is cached for the
    * duration of the build (a caller-owned persist is respected and left
    * in place).
    */
  def prepare(edges: DataFrame): PreparedGraph = {
    val spark = edges.sparkSession
    val callerCached = edges.storageLevel != StorageLevel.NONE
    val e = if (callerCached) edges else edges.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val m = e.count() // materializes the cache; sizes the loop shuffles
      val parts = Fixpoint.loopPartitions(spark, m)
      Fixpoint.withLoopConf(spark, parts) {
        // A distinct under the loop conf: hash-partitioned by `id` into
        // `parts`, so the loops' keyed state costs no exchange.
        val verts = vertices(e).persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val n = verts.count()
          val linked = Fixpoint.placed(
            e.join(outDegrees(e), "src").select(col("src"), col("dst"), col("out_degree")),
            parts, "src")
          PreparedGraph(verts, linked, n, parts)
        } catch { case t: Throwable => verts.unpersist(); throw t }
      }
    } finally if (!callerCached) e.unpersist()
  }

  /** Reference-faithful fixpoint (`pageRank.py:116-145`):
    *   pre_i  = β · Σ_{u→i} rank(u)/deg(u)
    *   s      = Σ_i pre_i
    *   rank'_i = pre_i + (1 − s)/N          (dead-end + spider-trap fix)
    * until Σ|rank' − rank| < δ.
    */
  def run(spark: SparkSession, edges: DataFrame, params: Params = Params()): RankResult = {
    val g = prepare(edges)
    try runOn(spark, g, params)
    finally g.unpersist() // results are checkpointed — independent of g
  }

  /** [[run]] over pre-built invariants (sweep callers prepare once). */
  def runOn(spark: SparkSession, g: PreparedGraph, params: Params = Params()): RankResult = {
    val PreparedGraph(verts, linked, n, parts) = g
    if (n == 0) {
      // Degenerate input: empty result, not a crash (reference divides 1/0
      // at pageRank.py:69).
      return RankResult(verts.withColumn("rank", lit(0.0)), 0, 0.0)
    }

    Fixpoint.withLoopConf(spark, parts) {
      // Live flag per vertex (has at least one out-edge), carried through
      // the loop state: the lost-mass scalar of iteration i+1 is then
      // derivable INSIDE iteration i's delta aggregate —
      //   s_{i+1} = Σ_v pre_{i+1}(v) = β · Σ_{u→·} rank_{i+1}(u)/deg(u)
      //           = β · Σ_{live u} rank_{i+1}(u)
      // — so each iteration's one action is a fused (L1 delta, live mass)
      // aggregate instead of two. Same exact math, float summation
      // regrouped per-vertex instead of per-edge-contribution (ulp-level;
      // the golden top-100 / 1e-12 fixture gates pin it).
      val srcs = linked.select(col("src").as("id")).distinct()
      val init = Fixpoint.keyed(verts
        .join(srcs.withColumn("live", lit(true)), Seq("id"), "left")
        .select(col("id"), lit(1.0 / n).as("rank"),
          coalesce(col("live"), lit(false)).as("live")), parts, "id")
      // Scalar per round: (L1 delta, live mass of the round's ranks).
      def liveMass(r: Row, i: Int): Double = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
      val first = Fixpoint.Round[(Double, Double)](init, s => (Double.MaxValue,
        liveMass(s.agg(sum(when(col("live"), col("rank")))).first(), 0)))
      val (state, (delta, _), iterations) =
        Fixpoint.iterate(first, params.maxIter, "PageRank") { case (state, (delta, live), i) =>
          if (!(delta > params.delta) || i >= params.maxIter) None
          else {
            // J2 + F1 + A4: contributions summed by dst. Edges and state
            // share their partitioning, so the join moves neither; the
            // sums' shuffle is the round's only exchange.
            val contribs = linked
              .join(Fixpoint.inPlace(state), linked("src") === state("id"))
              .select(col("dst"), (col("rank") / col("out_degree")).as("w"))
              .groupBy(col("dst"))
              .agg(sum(col("w")).as("c"))
            // A5: lost mass (dead ends + teleport) folded back uniformly
            // (A6) — the scalar was carried out of the previous round.
            val corr = (1.0 - params.beta * live) / n
            // The sums arrive partitioned by dst, the state by id: the
            // merge joins in place and keeps the state's partitioning.
            val merged = state
              .join(Fixpoint.inPlace(contribs), state("id") === contribs("dst"), "left")
              .select(
                col("id"),
                col("rank").as("old_rank"),
                col("live"),
                (coalesce(col("c"), lit(0.0)) * params.beta + lit(corr)).as("rank"))
            // A7: global L1 delta drives convergence; the same pass emits
            // the next iteration's live mass.
            Some(Fixpoint.Round(merged, m => {
              val r = m.agg(
                sum(abs(col("rank") - col("old_rank"))),
                sum(when(col("live"), col("rank")))).first()
              (r.getDouble(0), liveMass(r, 1))
            }))
          }
        }
      RankResult(state.select(col("id"), col("rank")), iterations, delta)
    }
  }

  /** Fixed-iteration PageRank with the explicit-teleport formula
    *   rank'_i = (1 − β)/N + β · Σ_{u→i} rank(u)/deg(u)
    * (no renormalization). This variant is exactly expressible in ANSI SQL
    * (unrolled CTE chains — generated by `api.GraphQueries`) and serves as
    * the DuckDB-checkable surface for the iterative operator I1.
    */
  def fixedIterations(
      spark: SparkSession,
      edges: DataFrame,
      beta: Double,
      iterations: Int): DataFrame = {
    val g = prepare(edges)
    try fixedIterationsOn(spark, g, beta, iterations)
    finally g.unpersist() // result is checkpointed — independent of g
  }

  /** [[fixedIterations]] over pre-built invariants (sweep callers prepare
    * once and amortize the vertex/degree/linked build across all β).
    */
  def fixedIterationsOn(
      spark: SparkSession,
      g: PreparedGraph,
      beta: Double,
      iterations: Int): DataFrame = {
    val PreparedGraph(verts, linked, n, parts) = g
    if (n == 0) return verts.withColumn("rank", lit(0.0))
    Fixpoint.withLoopConf(spark, parts) {
      teleportLoop(verts, linked, parts, beta, iterations, lit(1.0 / n), lit((1.0 - beta) / n),
        col("rank") / col("out_degree"), traced = false)._1
    }
  }

  /** The loop behind every fixed-iteration entry point:
    *   rank'_i = teleport_i + β · Σ_{u→i} share(u, i),   rank_0 = `rank0`,
    * over `base` (one row per vertex, `id` plus whatever the terms read)
    * and the `linked` edges placed by `src` into `parts`. `base` and the
    * ranks are [[Fixpoint.keyed]] by `id` into the same `parts`, so every
    * join in a round is in place. `teleport` is (1 − β)/N or the
    * personalized (1 − β)·[i ∈ S]/|S|; `share` is rank/out_degree or
    * rank·frac. A round's action is a count, or with `traced` the round's
    * L1 delta Σ_v |rank_i(v) − rank_{i−1}(v)|, collected per round.
    * Returns the final ranks' checkpoint (the caller's to free) and the
    * deltas.
    */
  private def teleportLoop(
      base: DataFrame,
      linked: DataFrame,
      parts: Int,
      beta: Double,
      iterations: Int,
      rank0: Column,
      teleport: Column,
      share: Column,
      traced: Boolean): (DataFrame, Vector[Double]) = {
    val keyedBase = Fixpoint.keyed(base, parts, "id")
    val first = Fixpoint.Round(keyedBase.select(col("id"), rank0.as("rank")),
      (r: DataFrame) => { r.count(); Vector.empty[Double] })
    val (ranks, deltas, _) =
      Fixpoint.iterate(first, iterations, "fixed-iteration PageRank") { (ranks, deltas, i) =>
        if (i == iterations) None
        else {
          val contribs = linked
            .join(Fixpoint.inPlace(ranks), linked("src") === ranks("id"))
            .select(col("dst"), share.as("w"))
            .groupBy(col("dst"))
            .agg(sum(col("w")).as("c"))
          val next = keyedBase
            .join(Fixpoint.inPlace(contribs), keyedBase("id") === contribs("dst"), "left")
            .select(keyedBase("id"),
              (teleport + lit(beta) * coalesce(col("c"), lit(0.0))).as("rank"))
          Some(Fixpoint.Round(next, (r: DataFrame) =>
            if (!traced) { r.count(); deltas }
            else deltas :+ r
              .join(Fixpoint.inPlace(
                  ranks.select(col("id").as("pid"), col("rank").as("prev"))),
                col("id") === col("pid"))
              .agg(sum(abs(col("rank") - col("prev"))))
              .head.getDouble(0)))
        }
      }
    (ranks, deltas)
  }

  /** [[fixedIterationsOn]] with the reference's per-iteration convergence
    * log as a relation: one (iteration, l1_delta) row per step, where
    * l1_delta = Σ_v |rank_i(v) − rank_{i−1}(v)| — the verbose trace the
    * reference prints while converging, exposed as a queryable table
    * (result is iteration-count-sized, so the driver-side collect is the
    * same inherent scalar-per-iteration cost as [[runOn]]'s convergence
    * check). All rank checkpoints are freed before returning; the result
    * carries no cluster state.
    */
  def fixedIterationsTrace(
      spark: SparkSession,
      edges: DataFrame,
      beta: Double,
      iterations: Int): DataFrame = {
    val g = prepare(edges)
    try {
      val PreparedGraph(verts, linked, n, parts) = g
      require(n > 0, "fixedIterationsTrace needs a non-empty graph")
      val deltas = Fixpoint.withLoopConf(spark, parts) {
        val (ranks, deltas) = teleportLoop(verts, linked, parts, beta, iterations, lit(1.0 / n),
          lit((1.0 - beta) / n), col("rank") / col("out_degree"), traced = true)
        release(ranks)
        deltas
      }
      import spark.implicits._
      deltas.zipWithIndex.map { case (d, i) => (i + 1, d) }.toDF("iteration", "l1_delta")
    } finally g.unpersist()
  }

  /** Personalized PageRank, fixed iterations: the teleport mass lands on
    * the `seeds` ∩ V set instead of uniformly —
    *   rank'_i = (1 − β)·[i ∈ S]/|S| + β · Σ_{u→i} rank(u)/deg(u),
    * r0 = the teleport vector. Same loop as [[fixedIterationsOn]], same
    * exact ANSI-SQL unrollability — the oracle chain is generated by
    * `api.GraphQueries`.
    */
  def personalizedFixedIterations(
      spark: SparkSession,
      edges: DataFrame,
      seeds: DataFrame,
      beta: Double,
      iterations: Int): DataFrame = {
    val g = prepare(edges)
    try {
      val PreparedGraph(verts, linked, n, parts) = g
      if (n == 0) return verts.withColumn("rank", lit(0.0))
      Fixpoint.withLoopConf(spark, parts) {
        val s = seeds.select(col(seeds.columns(0)).as("id")).distinct()
        val vt = verts
          .join(s.withColumn("one", lit(1)), Seq("id"), "left")
          .select(col("id"), (coalesce(col("one"), lit(0)) === 1).as("is_seed"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val sCount = vt.filter(col("is_seed")).count()
          require(sCount > 0, "personalized PageRank: no seed vertex is in the graph")
          val teleport = when(col("is_seed"), lit(1.0 / sCount)).otherwise(lit(0.0))
          teleportLoop(vt, linked, parts, beta, iterations, teleport, lit(1.0 - beta) * teleport,
            col("rank") / col("out_degree"), traced = false)._1
        } finally vt.unpersist()
      }
    } finally g.unpersist()
  }

  /** WEIGHTED fixed-iteration PageRank: edges carry a positive weight and
    * each vertex distributes rank proportionally —
    *   rank'_i = (1 − β)/N + β · Σ_{u→i} rank(u) · w(u,i)/W(u),  W(u) = Σ_j w(u,j).
    * The unweighted [[fixedIterations]] is the w ≡ 1 special case. Same
    * loop: the edge relation joins its per-source weight sum ONCE and is
    * placed by src with the normalized fraction precomputed. Exactly
    * SQL-unrollable (oracle chain in `api.GraphQueries`).
    */
  def weightedFixedIterations(
      spark: SparkSession,
      edges: DataFrame, // (src, dst, w > 0); parallel edges summed
      beta: Double,
      iterations: Int): DataFrame = {
    val c = edges.columns
    val raw = edges
      .select(col(c(0)).as("src"), col(c(1)).as("dst"), col(c(2)).cast("double").as("w"))
    // Enforce the documented w > 0 contract by FAILING, not filtering: a
    // silent filter would also drop any vertex reachable only through the
    // bad edge — rows vanishing from the rank table with no signal. The
    // bad count rides INSIDE the grouped aggregate (count_if folded into
    // the one pass the caller's edge plan was going to pay anyway — no
    // second upstream scan; sum() skipping nulls keeps the weight sum
    // well-typed either way, and we fail before it is used).
    val e = raw
      .groupBy(col("src"), col("dst"))
      .agg(
        sum(col("w")).as("w"),
        count_if(col("w").isNull || col("w") <= 0).as("n_bad"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val badRow = e.agg(sum(col("n_bad"))).head()
      val bad = if (badRow.isNullAt(0)) 0L else badRow.getLong(0)
      if (bad != 0L)
        throw new IllegalArgumentException(
          s"weightedFixedIterations: $bad edge(s) with null/zero/negative weight — " +
            "weights must be > 0")
      val parts = Fixpoint.loopPartitions(spark, e.count())
      Fixpoint.withLoopConf(spark, parts) {
        val verts = vertices(e).persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val n = verts.count()
          if (n == 0) verts.withColumn("rank", lit(0.0))
          else {
            val sw = e.groupBy(col("src")).agg(sum(col("w")).as("tw"))
            val linked = Fixpoint.placed(
              e.join(sw, "src").select(col("src"), col("dst"), (col("w") / col("tw")).as("frac")),
              parts, "src")
            e.unpersist()
            try teleportLoop(verts, linked, parts, beta, iterations, lit(1.0 / n),
              lit((1.0 - beta) / n), col("rank") * col("frac"), traced = false)._1
            finally linked.unpersist()
          }
        } finally verts.unpersist()
      }
    } finally e.unpersist()
  }

  /** O3+O4: top-k pages by score, ties broken by id — Catalyst plans this
    * as TakeOrderedAndProject (per-partition top-k + merge, no full sort).
    */
  def topK(ranks: DataFrame, k: Int): DataFrame =
    ranks.orderBy(col("rank").desc, col("id")).limit(k)

}
