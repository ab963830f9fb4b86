package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Embedding similarity: exact cosine via codegen'd higher-order functions,
  * brute-force top-k ANN as the correctness baseline, and a random-
  * hyperplane LSH bucketed variant as the scale path (buckets shrink each
  * candidate set from |C| to |C|/2^bits, turning the all-pairs cartesian
  * into a per-bucket join — the 100 TB-viable shape).
  */
object Similarity {

  /** Upper bound on the estimated query-side size for which ANN probe
    * relations may be broadcast (well under Spark's 8 GB broadcast hard
    * cap, leaving headroom for the ×probes fan-out of the probe list and
    * hash-relation overhead). Past it, [[annIvfMultiProbe]] falls back
    * to shuffled joins — the corpus-scale regime.
    */
  private[sim] val MaxProbeBroadcastBytes: BigInt = BigInt(512L << 20)

  /** The gate itself, factored for testability: true iff Catalyst's
    * estimated size of `df` fits the probe-broadcast budget.
    */
  private[graft] def probeBroadcastOk(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes <= MaxProbeBroadcastBytes

  /** Element-wise cast float→double so all accumulation is in doubles. */
  def asDouble(vec: Column): Column = transform(vec, x => x.cast("double"))

  /** Rank stage shared by every ANN operator: exact top-k per query over
    * (cosine desc, cand_id asc), distinct pairs. Spelled as the bounded
    * map-side-combinable [[org.apache.spark.sql.graft.TopKPairsAgg]]
    * rather than a `row_number` window: the window must shuffle AND sort
    * the entire candidate-pair stream (the r9 XL probe measured 217 s in
    * that sort alone at 443 M pairs — more than the whole scan), while
    * the aggregate consumes pairs where they are produced and shuffles
    * only ≤ |queries|·k summary entries. Exact-duplicate pairs (multi-
    * assignment IVF meeting a pair through two shared cells) collapse at
    * insert, which is exactly the dedup the window spelling needed extra
    * passes for. Output: (query_id, cand_id, rnk, cosine), unordered —
    * callers add their ORDER BY.
    */
  private[sim] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(org.apache.spark.sql.graft.TopKPairsAgg
        .topkPairs(col("cand_id"), col("cosine"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("i", "e")))
      .select(col("query_id"), col("e.cand_id").as("cand_id"),
        (col("i") + 1).as("rnk"), col("e.score").as("cosine"))

  /** Exact cosine similarity of two double-array columns — a native
    * codegen'd Catalyst expression (single fused loop, no intermediate
    * arrays); left-to-right double accumulation, so results are identical
    * to [[cosineBuiltins]] and to DuckDB's `list_cosine_similarity`.
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.CosineSimilarityExpr.cosineSim(a, b)

  /** Builtin-composed equivalent (`zip_with` + `aggregate`), kept as the
    * compositional reference implementation for tests.
    */
  def cosineBuiltins(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val na = aggregate(transform(a, x => x * x), lit(0.0), (acc, v) => acc + v)
    val nb = aggregate(transform(b, x => x * x), lit(0.0), (acc, v) => acc + v)
    dot / (sqrt(na) * sqrt(nb))
  }

  /** Brute-force exact top-k neighbors for each query vector.
    * Queries are expected to be a SMALL relation (they are broadcast); the
    * candidate side streams — so the cartesian is |Q|·|C| with |Q| tiny,
    * scanned once, ranked per query with a per-partition top-k.
    * Ranking uses the ROUNDED score (ties → candidate id) so results are
    * reproducible across engines and summation orders.
    */
  def annBrute(
      queries: DataFrame, // (query_id LONG, qv ARRAY<DOUBLE>)
      candidates: DataFrame, // (cand_id LONG, cv ARRAY<DOUBLE>)
      k: Int): DataFrame = {
    val scored = broadcast(queries).crossJoin(candidates)
      .select(
        col("query_id"), col("cand_id"),
        round(cosine(col("qv"), col("cv")), 4).as("cosine"))
    rankTopK(scored, k).orderBy(col("query_id"), col("rnk"))
  }

  /** Exact all-pairs top-k with self excluded — the ground-truth baseline
    * [[graft.Bench]] uses to PUBLISH recall@k for the trained approximate
    * paths (n4 KMeans-IVF, n9 trained-PQ) each round. |V|² scoring: a
    * measurement fixture for test-scale corpora, never a production shape
    * (the production exact path is [[annBrute]] with a bounded query set).
    */
  def annBruteAll(vectors: DataFrame, k: Int): DataFrame = {
    val a = vectors.select(col("vec_id").as("query_id"), col("v").as("qv"))
    val b = vectors.select(col("vec_id").as("cand_id"), col("v").as("cv"))
    val scored = broadcast(a).crossJoin(b)
      .filter(col("query_id") =!= col("cand_id"))
      .select(
        col("query_id"), col("cand_id"),
        round(cosine(col("qv"), col("cv")), 4).as("cosine"))
    rankTopK(scored, k)
  }

  /** Pseudo-random hyperplane coefficient in [−1, 1] for (plane `p`,
    * element index `i`) — xxhash64-derived: fast, codegen'd, the
    * production hash family.
    */
  private def xxCoef(p: Int, i: Column): Column =
    (pmod(xxhash64(lit("plane"), lit(p), i), lit(2000001L)).cast("double")
      - lit(1000000.0)) / lit(1000000.0)

  /** Portable twin of [[xxCoef]]: md5-derived, reproducible in any engine
    * with md5 (same trick as the portable MinHash family) — this is what
    * lets the LSH-blocked near-dup pair op carry a full DuckDB oracle.
    * Formula: int(md5("plane:p:i")[0:15]) % 2000001 → uniform in
    * [0, 2000000] → affine to [−1, 1].
    */
  private def mdCoef(p: Int, i: Column): Column =
    ((graft.ops.Portable.md5Long(
      concat_ws(":", lit("plane"), lit(p.toString), i.cast("string")))
      % 2000001L).cast("double")
      - 1000000.0) / 1000000.0

  /** Hyperplane-LSH bucket assignment: (vec_id, tbl, bucket) with one row
    * per (vector, table). Single-pass relational shape: element rows join
    * a BROADCAST per-index coefficient array (planes·tables values per
    * dimension — built lazily from the distinct element indices, so no
    * driver action and no assumption about dim), then ONE hash aggregation
    * computes all planes·tables dot products as map-side-combinable sums.
    * This replaces the earlier ×(planes·tables) row explosion — same
    * buckets (identical coefficient formula), 1/32nd of the shuffled rows.
    */
  private[graft] def hyperplaneBuckets(
      vectors: DataFrame,
      planes: Int,
      tables: Int,
      coef: (Int, Column) => Column): DataFrame = {
    val tp = tables * planes
    val el = vectors.select(col("vec_id"), posexplode(col("v")).as(Seq("i", "x")))
    val coefs = el.select(col("i")).distinct()
      .select(col("i"), array((0 until tp).map(p => coef(p, col("i"))): _*).as("carr"))
    val dotCols = (0 until tp).map(p =>
      sum(col("x") * element_at(col("carr"), p + 1)).as(s"dot$p"))
    val dots = el.join(broadcast(coefs), "i")
      .groupBy(col("vec_id"))
      .agg(dotCols.head, dotCols.tail: _*)
    val bucketCols = (0 until tables).map { t =>
      (0 until planes).map { j =>
        when(col(s"dot${t * planes + j}") >= 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _).as(s"b$t")
    }
    dots.select((col("vec_id") +: bucketCols): _*)
      .select(col("vec_id"),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("tbl"), col(s"b$t").as("bucket"))): _*)).as("e"))
      .select(col("vec_id"), col("e.tbl").as("tbl"), col("e.bucket").as("bucket"))
  }

  /** LSH-bucketed ANN: candidates are only compared within the same
    * hyperplane bucket — per-bucket shuffle join instead of a cartesian.
    * Recall is amplified with `tables` independent hash tables (standard
    * OR-amplification): a pair is a candidate if it collides in ANY table;
    * candidates are deduped before the exact re-rank, so output stays
    * deterministic. Recall vs [[annBrute]] is validated in ScalaTest.
    */
  def annLsh(
      vectors: DataFrame, // (vec_id LONG, v ARRAY<DOUBLE>)
      planes: Int,
      tables: Int,
      k: Int): DataFrame = annLshWith(vectors, planes, tables, k, xxCoef)

  /** [[annLsh]] with the md5-portable plane family ([[mdCoef]]): identical
    * shape and recall behavior, but the bucket assignment — and therefore
    * the whole output — is reproducible verbatim in any engine with md5,
    * so this twin carries a full DuckDB oracle (the same trick that made
    * d5's approximate blocking hash-checkable). xxhash64 stays the
    * production family (faster); this is the hash-checkable surface.
    */
  def annLshPortable(
      vectors: DataFrame,
      planes: Int,
      tables: Int,
      k: Int): DataFrame = annLshWith(vectors, planes, tables, k, mdCoef)

  private def annLshWith(
      vectors: DataFrame,
      planes: Int,
      tables: Int,
      k: Int,
      coef: (Int, Column) => Column): DataFrame = {
    // Materialized ONCE (eager localCheckpoint): both candidate sides read
    // the bucketed relation, and each lazy read re-ran the planes×tables
    // projection + vector join. Reachable from the result, so the standard
    // sweep frees it.
    val bucketed = hyperplaneBuckets(vectors, planes, tables, coef)
      .join(vectors, "vec_id")
      .localCheckpoint(true)
    val a = bucketed.select(
      col("tbl"), col("bucket"), col("vec_id").as("query_id"), col("v").as("qv"))
    val b = bucketed.select(
      col("tbl").as("tbl_b"), col("bucket").as("bucket_b"),
      col("vec_id").as("cand_id"), col("v").as("cv"))
    val scored = a.join(b,
        col("tbl") === col("tbl_b") && col("bucket") === col("bucket_b") &&
          col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), col("qv"), col("cv"))
      .dropDuplicates("query_id", "cand_id")
      .select(
        col("query_id"), col("cand_id"),
        round(cosine(col("qv"), col("cv")), 4).as("cosine"))
    rankTopK(scored, k).orderBy(col("query_id"), col("rnk"))
  }

  /** IVF (inverted-file) ANN: a coarse k-means quantizer assigns every
    * vector to a cell; queries search only their own cell — per-cell
    * equi-join instead of a cartesian, the classic IVF-flat scale shape
    * (probe count = 1 here; raise `nCells` ∝ √N at scale).
    * Approximate: neighbors in adjacent cells are missed; recall vs
    * [[annBrute]] is asserted in ScalaTest.
    */
  def annIvf(
      spark: org.apache.spark.sql.SparkSession,
      vectors: DataFrame, // (vec_id LONG, v ARRAY<DOUBLE>)
      nCells: Int,
      k: Int): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // Eager localCheckpoint, not cache(): the featurized relation feeds
    // the (eager) KMeans fit AND the lazy cell-assignment in the returned
    // plan, and a cache() here had no unpersist. The checkpoint backing is
    // reachable from the result, so the standard post-consumption sweep
    // frees it (QueriesSpec pins this).
    val withFeat = vectors.withColumn("features", array_to_vector(col("v")))
      .localCheckpoint(true)
    val model = new KMeans()
      .setK(nCells).setSeed(42L).setMaxIter(10)
      .setFeaturesCol("features")
      .fit(withFeat)
    val assigned = model.transform(withFeat)
      .select(col("vec_id"), col("v"), col("prediction").as("cell"))
    val a = assigned.select(col("cell"), col("vec_id").as("query_id"), col("v").as("qv"))
    val b = assigned.select(col("cell").as("cell_b"), col("vec_id").as("cand_id"), col("v").as("cv"))
    val scored = a.join(b,
        col("cell") === col("cell_b") && col("query_id") =!= col("cand_id"))
      .select(
        col("query_id"), col("cand_id"),
        round(cosine(col("qv"), col("cv")), 4).as("cosine"))
    rankTopK(scored, k).orderBy(col("query_id"), col("rnk"))
  }

  /** Multi-probe IVF (the standard recall knob on [[annIvf]], which the
    * per-round recall artifact showed losing over half the true top-k to
    * cell boundaries at nProbe=1): each query scans its `probes` NEAREST
    * cells instead of only its home cell — neighbors that fall just
    * across a Voronoi boundary are recovered at probes× scan cost, still
    * ≪ brute force (faiss `nprobe`; Lv et al., "Multi-Probe LSH", VLDB
    * 2007 for the perturbation idea).
    *
    * Scale shape: by default candidates are stored ONCE, keyed by their
    * single home cell; only the query side fans out (×probes) before the
    * same per-cell equi-join as [[annIvf]]. Cell choice is a broadcast
    * crossJoin against the O(nCells) centroid table (nCells ∝ √N at
    * production scale — tiny) + a per-query top-probes window over
    * nCells rows, so the probe fan-out never touches the corpus-sized
    * side.
    *
    * `assign` > 1 additionally replicates each CANDIDATE into its
    * `assign` nearest cells — redundant/multi-assignment IVF, the other
    * standard recall lever (index is ×assign larger; query probe count
    * can then stay low). A true neighbor is found when the query's
    * probed cells intersect the candidate's assigned cells, so
    * probes×assign boundary coverage is bought for assign× index storage
    * instead of probes× query scan — the right trade when queries far
    * outnumber index rebuilds. The r9 sweep on the sf0.1 embeddings
    * (weakly clustered, unit-norm 64-d): assign=1 recall@5
    * tracks coverage (0.66 at 3/8), while (nCells=32, probes=8,
    * assign=2) reaches ≥0.9. Per-query candidate coverage is
    * probes/nCells × assign — ≈ 50-75% for the shipped configs on this
    * near-worst-case (noise-dominated) corpus; the asymptotic IVF win
    * needs nCells ∝ √N so the fraction falls as the corpus grows.
    */
  def annIvfMultiProbe(
      spark: org.apache.spark.sql.SparkSession,
      vectors: DataFrame, // (vec_id LONG, v ARRAY<DOUBLE>)
      nCells: Int,
      probes: Int,
      k: Int,
      assign: Int = 1): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(probes >= 1 && probes <= nCells,
      s"probes must be in [1, nCells=$nCells]; got $probes")
    require(assign >= 1 && assign <= nCells,
      s"assign must be in [1, nCells=$nCells]; got $assign")
    val withFeat = vectors.withColumn("features", array_to_vector(col("v")))
      .localCheckpoint(true)
    val model = new KMeans()
      .setK(nCells).setSeed(42L).setMaxIter(10)
      .setFeaturesCol("features")
      .fit(withFeat)
    import spark.implicits._
    val cents = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq.toDF("cell", "centroid")
    // KMeans assigns by squared Euclidean distance; rank cells the same
    // way so probe #1 / home assignment is always the KMeans cell.
    val d2 = aggregate(
      zip_with(col("qv"), col("centroid"), (x, c) => (x - c) * (x - c)),
      lit(0.0), (a, x) => a + x)
    val cand =
      if (assign == 1)
        model.transform(withFeat)
          .select(col("prediction").as("cell_b"),
            col("vec_id").as("cand_id"), col("v").as("cv"))
      else {
        // In this branch withFeat's eager localCheckpoint fed ONLY the
        // KMeans fit above — the candidate/probe relations are rebuilt
        // from `vectors` (they don't need the ml Vector column), so the
        // checkpoint backing would be unreachable from the result plan
        // and the caller's standard post-consumption sweep could never
        // free it. Release it here, where its last consumer (fit) is done.
        org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(withFeat)
        val cw = Window.partitionBy(col("cand_id")).orderBy(col("d2"), col("cell"))
        vectors
          .select(col("vec_id").as("cand_id"), col("v").as("qv"))
          .crossJoin(broadcast(cents))
          .withColumn("d2", d2)
          .withColumn("ar", row_number().over(cw))
          .filter(col("ar") <= assign)
          .select(col("cell").as("cell_b"), col("cand_id"),
            col("qv").as("cv"))
      }
    val pw = Window.partitionBy(col("query_id")).orderBy(col("d2"), col("cell"))
    val qcells = vectors
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("d2", d2)
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= probes)
      .select(col("query_id"), col("cell"))
    // BROADCAST the probe side: `cell` has only nCells distinct values,
    // so a shuffled join would collapse the corpus-sized candidate scan
    // into ≤ nCells effective groups (the r9 XL probe measured the
    // shuffled variant at 3x BRUTE at N=24k — worse than no index). ANN's
    // contract is a bounded query batch (the IndexStore premise), so the
    // probe list broadcasts and candidates stream through the join at
    // full input parallelism, never shuffled.
    //
    // Two SLIM broadcasts, not one fat one: with qv riding in the probe
    // list the hash relation was |queries|·probes × (key + vector) rows
    // — 200 MB at the r9 XL probe — and every bucket-chain walk
    // (≈ |queries|·probes/nCells matches per candidate) cache-missed
    // through it, measured at ~3× brute's per-pair cost. Probe list as
    // bare (query_id, cell) plus a second, unique-key broadcast of
    // (query_id, qv) keeps the chain walk inside a few MB and fetches
    // each query vector once per OUTPUT pair, restoring per-pair parity
    // with the brute kernel.
    val qvecs = vectors.select(col("vec_id").as("query_id"), col("v").as("qv"))
    // GATE the broadcast on the estimated query-side size: this function
    // self-joins (queries == corpus), so at production N the "bounded
    // query batch" premise does NOT hold and a hinted broadcast of the
    // whole vector table would blow Spark's 8 GB broadcast cap / driver
    // heap. Under the threshold (batch-query regime) the broadcast
    // spelling streams candidates at full input parallelism; over it
    // (corpus-scale regime) fall back to plain shuffled joins — safe
    // because at scale nCells ∝ √N ≫ task count, so hashing on `cell`
    // no longer collapses parallelism the way it does at small nCells.
    val joined =
      if (probeBroadcastOk(vectors))
        broadcast(qcells).join(cand,
            col("cell") === col("cell_b") && col("query_id") =!= col("cand_id"))
          .join(broadcast(qvecs), "query_id")
          .select(
            col("query_id"), col("cand_id"),
            round(cosine(col("qv"), col("cv")), 4).as("cosine"))
      else
        qcells.join(cand,
            col("cell") === col("cell_b") && col("query_id") =!= col("cand_id"))
          .join(qvecs, "query_id")
          .select(
            col("query_id"), col("cand_id"),
            round(cosine(col("qv"), col("cv")), 4).as("cosine"))
    // With replicated candidates a pair can meet through every shared
    // cell; a twice-found neighbor must not occupy two ranks. The
    // duplicate rows are bit-identical (cosine is deterministic in the
    // pair), so rankTopK's insert-time dedup yields exactly the top k
    // DISTINCT pairs — no extra dedup pass, no pair-stream shuffle.
    rankTopK(joined, k).orderBy(col("query_id"), col("rnk"))
  }

  /** Portable multi-probe twin of [[annIvfStatic]] (probes = 2): each
    * query searches its sign-pattern home cell PLUS the cell with its
    * least-confident sign bit flipped — argmin_j |v_j| over the first
    * `dims` coordinates (ties → smallest j), the coordinate most likely
    * to sit on the wrong side of its hyperplane (the Multi-Probe LSH
    * perturbation heuristic). Fully deterministic and engine-portable,
    * so unlike the KMeans variant this carries a complete DuckDB oracle;
    * same candidates-stored-once/query-side-fan-out shape as
    * [[annIvfMultiProbe]].
    */
  def annIvfStaticMultiProbe(
      vectors: DataFrame, // (vec_id LONG, v ARRAY<DOUBLE>)
      dims: Int,
      k: Int): DataFrame = {
    require(dims >= 2 && dims <= 16)
    val cell = (0 until dims).map { j =>
      when(element_at(col("v"), j + 1) >= 0, 1 << (dims - 1 - j)).otherwise(0)
    }.reduce(_ + _)
    val assigned = vectors.select(col("vec_id"), col("v"), cell.as("cell"))
    val cand = assigned.select(col("cell").as("cell_b"),
      col("vec_id").as("cand_id"), col("v").as("cv"))
    val absJ = (0 until dims).map(j => abs(element_at(col("v"), j + 1)))
    val minAbs = least(absJ: _*)
    // First (lowest-j) coordinate attaining the min — deterministic on
    // ties, reproducible as a CASE chain in the oracle.
    var flip: Column = when(absJ.head === minAbs, lit(1 << (dims - 1)))
    for (j <- 1 until dims)
      flip = flip.when(absJ(j) === minAbs, lit(1 << (dims - 1 - j)))
    val qcells = assigned.select(
        col("vec_id").as("query_id"), col("v").as("qv"),
        explode(array(col("cell"),
          col("cell").bitwiseXOR(flip))).as("cell"))
    val scored = qcells.join(cand,
        col("cell") === col("cell_b") && col("query_id") =!= col("cand_id"))
      .select(
        col("query_id"), col("cand_id"),
        round(cosine(col("qv"), col("cv")), 4).as("cosine"))
    rankTopK(scored, k).orderBy(col("query_id"), col("rnk"))
  }

  /** Portable twin of the TUNED multi-probe config ([[annIvfMultiProbe]]
    * at nCells=32, probes=8, assign=3 — the n13 parameters a retrieval
    * service would ship): 32 sign-pattern cells (first 5 coordinates),
    * every query probes 8 cells, every candidate is assigned to 3 —
    * the same query-side ×8 fan-out, candidate ×3 replication, per-cell
    * equi-join, and duplicate-collapsing bounded rank stage as the
    * KMeans variant, but fully deterministic so the configuration
    * carries a complete DuckDB hash oracle (the r9 verdict ask: n13
    * itself is rows-only because trained centroids are engine-specific).
    *
    * Probe/assign sets are confidence-ordered Hamming perturbations
    * (Multi-Probe LSH): with s₁..s₅ the coordinates by |v| ascending
    * (ties → first index; both engines spell this as sorted-value
    * first-position lookup, so tie behavior is identical), the query
    * probes {home, flip s₁, …, flip s₅, flip s₁s₂, flip s₁s₃} and a
    * candidate is assigned to {home, flip s₁, flip s₂}. A pair can meet
    * through several shared cells (probe ∩ assign overlap) — exactly the
    * multi-assignment duplicate shape whose insert-time dedup
    * [[rankTopK]] provides and the oracle mirrors with DISTINCT.
    */
  /** The tuned static quantizer's per-vector state: home `cell` plus
    * `b1..b5`, the flip-bit values of the coordinates ordered by |v|
    * ascending (confidence ascending) — shared by [[annIvfStaticTuned]]
    * and [[annProbeSweep]].
    */
  private[sim] def tunedAssigned(vectors: DataFrame): DataFrame = {
    val dims = 5
    val bits = array((0 until dims).map(j => lit(1 << (dims - 1 - j))): _*)
    val cell = (0 until dims).map { j =>
      when(element_at(col("v"), j + 1) >= 0, 1 << (dims - 1 - j)).otherwise(0)
    }.reduce(_ + _)
    val la = array((0 until dims).map(j => abs(element_at(col("v"), j + 1))): _*)
    val srt = array_sort(la)
    def b(kth: Int): Column = element_at(bits,
      array_position(col("la"), element_at(col("srt"), kth)).cast("int"))
    vectors
      .select(col("vec_id"), col("v"), cell.as("cell"), la.as("la"), srt.as("srt"))
      .select(col("vec_id"), col("v"), col("cell"),
        b(1).as("b1"), b(2).as("b2"), b(3).as("b3"), b(4).as("b4"), b(5).as("b5"))
  }

  /** Query-side probe masks (8: home, 5 single flips, 2 double flips) and
    * candidate-side assignment masks (3: home, 2 single flips).
    */
  private[sim] val tunedQueryMasks: Column =
    array(lit(0), col("b1"), col("b2"), col("b3"), col("b4"),
      col("b5"), col("b1").bitwiseXOR(col("b2")), col("b1").bitwiseXOR(col("b3")))
  private[sim] val tunedCandMasks: Column = array(lit(0), col("b1"), col("b2"))

  def annIvfStaticTuned(vectors: DataFrame, k: Int): DataFrame = {
    val assigned = tunedAssigned(vectors)
    val qcells = assigned
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("cell"),
        explode(tunedQueryMasks).as("m"))
      .select(col("query_id"), col("qv"),
        col("cell").bitwiseXOR(col("m")).as("cell"))
    val cand = assigned
      .select(col("vec_id").as("cand_id"), col("v").as("cv"), col("cell"),
        explode(tunedCandMasks).as("m"))
      .select(col("cand_id"), col("cv"),
        col("cell").bitwiseXOR(col("m")).as("cell_b"))
    val scored = qcells.join(cand,
        col("cell") === col("cell_b") && col("query_id") =!= col("cand_id"))
      .select(
        col("query_id"), col("cand_id"),
        round(cosine(col("qv"), col("cv")), 4).as("cosine"))
    rankTopK(scored, k).orderBy(col("query_id"), col("rnk"))
  }

  /** Probe-budget DESIGN TABLE for the tuned static IVF — the retrieval
    * twin of the dedup-τ sweep (d20): how much recall does each extra
    * probe buy, and at what candidate volume? For every probe budget
    * p ∈ 1..8 over [[annIvfStaticTuned]]'s confidence-ordered mask
    * sequence: the cumulative candidate-pair count, mean candidates per
    * query, exact-top-k pairs reachable (candidate recall — the metric
    * ann-benchmarks reports, an upper bound on any re-rank's recall),
    * and the recall fraction. This is the table a service reads to pick
    * nprobe — produced WITHOUT re-running the search per budget: ONE
    * candidate pass tags every (query, cand) pair with the FIRST probe
    * rank that discovers it (min over mask positions), then a bounded
    * ≤8× broadcast fan aggregates cumulative counts per budget — the
    * same one-pass/fan-the-thresholds shape as d20. Ground truth is
    * [[annBruteAll]] (|V|² exact — a design-time fixture cost, paid once
    * per tuning run on a sampled slice, not a production path; the
    * candidate pass itself stays the per-cell equi-join). Everything is
    * deterministic (static quantizer, exact integer counts, one rounded
    * division) → full DuckDB hash oracle.
    */
  def annProbeSweep(vectors: DataFrame, k: Int): DataFrame = {
    val spark = vectors.sparkSession
    val assigned = tunedAssigned(vectors)
    val qcells = assigned
      .select(col("vec_id").as("query_id"), col("cell"),
        posexplode(tunedQueryMasks).as(Seq("pos", "m")))
      .select(col("query_id"), (col("pos") + 1).as("prank"),
        col("cell").bitwiseXOR(col("m")).as("cell"))
    // Distinct: |v|-ties can make two assignment masks coincide.
    val cand = assigned
      .select(col("vec_id").as("cand_id"), col("cell"),
        explode(tunedCandMasks).as("m"))
      .select(col("cand_id"), col("cell").bitwiseXOR(col("m")).as("cell_b"))
      .distinct()
    val discovered = qcells.join(cand,
        col("cell") === col("cell_b") && col("query_id") =!= col("cand_id"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(min(col("prank")).as("first_probe"))
    val truth = annBruteAll(vectors, k)
      .select(col("query_id"), col("cand_id"), lit(1L).as("is_true"))
    val nQ = vectors.agg(count(lit(1)).as("n_queries"))
    val budgets = spark.range(1, 9).select(col("id").as("probes"))
    discovered.join(truth, Seq("query_id", "cand_id"), "left")
      .join(broadcast(budgets), col("first_probe") <= col("probes"))
      .groupBy(col("probes"))
      .agg(count(lit(1)).as("n_cand_pairs"),
        sum(coalesce(col("is_true"), lit(0L))).as("n_hits"))
      .crossJoin(broadcast(nQ))
      .select(col("probes"), col("n_cand_pairs"), col("n_hits"),
        round(col("n_cand_pairs").cast("double") / col("n_queries"), 6)
          .as("cands_per_query"),
        round(col("n_hits").cast("double") / (col("n_queries") * k), 6)
          .as("recall"))
      .orderBy(col("probes"))
  }

  /** IVF with a DATA-INDEPENDENT quantizer: cells are the sign pattern of
    * the first `dims` coordinates (2^dims cells) instead of trained
    * k-means centroids. Same physical shape as [[annIvf]] — cell
    * assignment is a projection, search is a per-cell equi-join + top-k
    * window — but fully deterministic and engine-portable, so this twin
    * carries a complete DuckDB oracle where the KMeans variant (whose
    * trained centroids are engine-specific) is rows-only. The production
    * tradeoff is the usual one: static cells don't adapt to the data
    * distribution (skewed cells), which is what the trained quantizer
    * buys.
    */
  def annIvfStatic(
      vectors: DataFrame, // (vec_id LONG, v ARRAY<DOUBLE>)
      dims: Int,
      k: Int): DataFrame = {
    require(dims >= 1 && dims <= 16)
    val cell = (0 until dims).map { j =>
      when(element_at(col("v"), j + 1) >= 0, 1 << (dims - 1 - j)).otherwise(0)
    }.reduce(_ + _)
    val assigned = vectors.select(col("vec_id"), col("v"), cell.as("cell"))
    val a = assigned.select(col("cell"), col("vec_id").as("query_id"), col("v").as("qv"))
    val b = assigned.select(col("cell").as("cell_b"), col("vec_id").as("cand_id"), col("v").as("cv"))
    val scored = a.join(b,
        col("cell") === col("cell_b") && col("query_id") =!= col("cand_id"))
      .select(
        col("query_id"), col("cand_id"),
        round(cosine(col("qv"), col("cv")), 4).as("cosine"))
    rankTopK(scored, k).orderBy(col("query_id"), col("rnk"))
  }

  /** Production embedding near-duplicate pairs: hyperplane-LSH blocking
    * (portable md5 hash family) + exact-cosine refine on candidates only.
    * A pair is compared iff it collides in ≥1 of `tables` hash tables —
    * per-(table, bucket) equi-join, never a cartesian; work scales with
    * Σ_buckets |bucket|², tunable via `planes` (≈ log₂ N keeps buckets
    * constant-sized as the corpus grows). Output is the LSH-candidate
    * subset of [[cosinePairs]] with exact (rounded) cosines: deterministic,
    * and — because the hash family is md5-portable — reproducible verbatim
    * in DuckDB, so the query carries a full hash-checked oracle. Recall on
    * true near-dups (cos ≥ 0.9) is asserted in ScalaTest against the
    * all-pairs baseline.
    */
  def cosinePairsLsh(
      vectors: DataFrame, // (vec_id LONG, v ARRAY<DOUBLE>)
      threshold: Double,
      planes: Int,
      tables: Int): DataFrame = {
    // Materialized ONCE (eager localCheckpoint): both sides of the bucket
    // self-join read the hyperplane-bucket relation, and each lazy read
    // re-ran the planes×tables projection over the vectors. Reachable from
    // the result through `candidates`, so the standard sweep frees it.
    val tb = hyperplaneBuckets(vectors, planes, tables, mdCoef).localCheckpoint(true)
    val candidates = tb.select(col("tbl"), col("bucket"), col("vec_id").as("vec_a"))
      .join(tb.select(col("tbl").as("tbl_b"), col("bucket").as("bucket_b"),
          col("vec_id").as("vec_b")),
        col("tbl") === col("tbl_b") && col("bucket") === col("bucket_b") &&
          col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
    candidates
      .join(vectors.select(col("vec_id").as("vec_a"), col("v").as("va")), "vec_a")
      .join(vectors.select(col("vec_id").as("vec_b"), col("v").as("vb")), "vec_b")
      .withColumn("cos_raw", cosine(col("va"), col("vb")))
      .filter(col("cos_raw") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos_raw"), 4).as("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** All near-duplicate pairs by exact cosine ≥ threshold (id_a < id_b).
    * Quadratic all-pairs crossJoin — TEST-ONLY ground truth for
    * [[cosinePairsLsh]]'s recall spec; never ship this shape as a
    * production operator (it cannot finish at corpus scale).
    */
  def cosinePairs(vectors: DataFrame, threshold: Double): DataFrame = {
    val a = vectors.select(col("vec_id").as("vec_a"), col("v").as("va"))
    val b = vectors.select(col("vec_id").as("vec_b"), col("v").as("vb"))
    a.crossJoin(b)
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos_raw", cosine(col("va"), col("vb")))
      .filter(col("cos_raw") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos_raw"), 4).as("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC dedup with
    * cluster-scoped candidate generation. Pairwise cosine is computed
    * only WITHIN a coarse cluster (the paper's cost reduction — ε-near
    * pairs almost always share a cluster, so the global N² collapses to
    * Σ|cell|²), ε-similar pairs connect into duplicate groups, and each
    * group keeps exactly ONE member: the one LEAST similar to its
    * cluster centroid (the paper's keep rule — retaining the atypical
    * exemplar preserves more semantic diversity than keeping the
    * prototype; ties break by id). One row per input vector:
    * (vec_id, cell, group_id, centroid_cos, kept).
    *
    * `assigned` = (vec_id, v, cell) from any coarse quantizer;
    * `centroids` = (cell, cv). [[semDedupTrained]] supplies both from a
    * KMeans fit (the paper's configuration — rows-only, like every
    * trained variant); [[semDedupPortable]] from the static sign
    * quantizer + per-cell means, fully DuckDB-replayable (d18b's hash
    * oracle).
    *
    * Scale shape: the candidate stage is a per-cell equi-join (never
    * all-pairs across cells; production nCells ∝ N keeps Σ|cell|²
    * bounded, exactly the IVF argument); duplicate grouping is the
    * structure-independent HCC+shortcut fixpoint over only the ε-pairs;
    * the centroid decoration broadcasts the O(nCells) centroid table;
    * the keep decision is one per-group min-struct aggregation (map-side
    * combinable) joined back on the group key.
    */
  def semDedup(assigned: DataFrame, centroids: DataFrame, eps: Double): DataFrame = {
    val a = assigned.select(col("cell"), col("vec_id").as("vec_a"), col("v").as("va"))
    val b = assigned.select(col("cell").as("cell_b"),
      col("vec_id").as("vec_b"), col("v").as("vb"))
    val pairs = a.join(b,
        col("cell") === col("cell_b") && col("vec_a") < col("vec_b"))
      .filter(cosine(col("va"), col("vb")) >= eps)
      .select(col("vec_a"), col("vec_b"))
    val groups = graft.graph.ConnectedComponents.run(pairs)
    val cen = assigned.join(broadcast(centroids), "cell")
      .select(col("vec_id"), col("cell"),
        round(cosine(col("v"), col("cv")), 6).as("centroid_cos"))
    val labeled = cen.join(groups, col("vec_id") === col("member_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("rep_id"), col("vec_id")).as("group_id"),
        col("centroid_cos"))
    val keeper = labeled.groupBy(col("group_id"))
      .agg(min(struct(col("centroid_cos"), col("vec_id"))).as("m"))
      .select(col("group_id"), col("m.vec_id").as("keep_id"))
    labeled.join(keeper, "group_id")
      .select(col("vec_id"), col("cell"), col("group_id"), col("centroid_cos"),
        (col("vec_id") === col("keep_id")).as("kept"))
      .orderBy(col("vec_id"))
  }

  /** [[semDedup]] under the paper's own configuration: a KMeans coarse
    * quantizer (cells + trained centroids). Trained centroids are
    * engine-specific → rows-only at the gate; the keep-exactly-one and
    * portable-twin-equivalence properties are spec-pinned instead.
    */
  def semDedupTrained(
      vectors: DataFrame, // (vec_id LONG, v ARRAY<DOUBLE>)
      nCells: Int, eps: Double): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = vectors.sparkSession
    import spark.implicits._
    // Same eager-checkpoint discipline as annIvf: the featurized relation
    // feeds the eager fit and the lazy assignment; the backing is
    // reachable from the result, so the caller's standard sweep frees it.
    val withFeat = vectors.withColumn("features", array_to_vector(col("v")))
      .localCheckpoint(true)
    val model = new KMeans()
      .setK(nCells).setSeed(42L).setMaxIter(10)
      .setFeaturesCol("features")
      .fit(withFeat)
    // Materialize the cell assignment ONCE: semDedup reads it three times
    // (both pair-join sides + the centroid decoration), and each lazy read
    // re-ran the model's distance-to-every-centroid transform over the
    // corpus. The backing is reachable from the result (the decoration
    // path), so the caller's standard sweep frees it; withFeat's backing
    // is then orphaned (its consumers were the fit and this transform) —
    // free it here, the annIvfMultiProbe idiom.
    val assigned = model.transform(withFeat)
      .select(col("vec_id"), col("v"), col("prediction").as("cell"))
      .localCheckpoint(true)
    org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(withFeat)
    val centroids = model.clusterCenters.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toSeq) }
      .toDF("cell", "cv")
    semDedup(assigned, centroids, eps)
  }

  /** [[semDedup]] on the static sign quantizer (2^dims cells, the
    * annIvfStatic family) with per-cell MEAN vectors as centroids. Every
    * stage is md5/IEEE-portable: the per-dimension means are rounded at
    * 9 digits BEFORE the centroid cosine (so both engines feed cosine
    * bit-identical inputs regardless of their partial-sum order), making
    * the whole operator hash-oracled in DuckDB.
    */
  def semDedupPortable(
      vectors: DataFrame, // (vec_id LONG, v ARRAY<DOUBLE>)
      dims: Int, eps: Double): DataFrame = {
    require(dims >= 1 && dims <= 16)
    val cell = (0 until dims).map { j =>
      when(element_at(col("v"), j + 1) >= 0, 1 << (dims - 1 - j)).otherwise(0)
    }.reduce(_ + _)
    val assigned = vectors.select(col("vec_id"), col("v"), cell.as("cell"))
    val centroids = assigned
      .select(col("cell"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("cell"), col("i"))
      .agg(round(avg(col("x")), 9).as("c"))
      .groupBy(col("cell"))
      .agg(sort_array(collect_list(struct(col("i"), col("c")))).as("sc"))
      .select(col("cell"), expr("transform(sc, p -> p.c)").as("cv"))
    semDedup(assigned, centroids, eps)
  }

  /** Int8 scalar quantization (the public faiss-SQ8 technique): each
    * dimension linearly gridded to 256 levels over its corpus [min, max],
    * decode = bucket midpoint — 4× memory compression (float32 → int8)
    * for embedding stores, the standard precursor to code-resident ANN.
    * Returns exploded (vec_id, i, code, recon) with recon rounded for
    * engine parity.
    *
    * Scale shape: the inherent TWO-pass form of corpus-normalized
    * encodings — a range pass (64-row combinable min/max aggregate) and
    * an encode pass with the range table broadcast back; no other
    * shuffle, codegen end to end. At cluster scale the tiny range table
    * is computed once and reused across encodes.
    * The grid arithmetic is written in the exact same operation order as
    * the SQL oracle ((x−lo)/(hi−lo)·256, floor, clamp), so IEEE doubles
    * agree bit-for-bit; constant dimensions (hi = lo) take code 0 by an
    * explicit guard rather than dividing by zero.
    */
  def sqEncode(vectors: DataFrame): DataFrame = {
    val el = vectors.select(
      col("vec_id"), posexplode(col("v")).as(Seq("i", "x")))
    val rng = el.groupBy(col("i"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val rawCode = floor((col("x") - col("lo")) / (col("hi") - col("lo")) * 256)
      .cast("long")
    val code = when(col("hi") === col("lo"), lit(0L))
      .otherwise(least(lit(255L), greatest(lit(0L), rawCode)))
    el.join(broadcast(rng), "i")
      .select(
        col("vec_id"),
        col("i").cast("long").as("i"),
        code.as("code"),
        round(col("lo") + (code + lit(0.5)) * (col("hi") - col("lo")) / 256, 6)
          .as("recon"))
  }

  // ---------------------------------------------------------------------
  // Product quantization (the public faiss-PQ recipe, completing the n5
  // SQ8 / n6 asymmetric-search compression family): each vector is split
  // into `m` sub-vectors of dim/m dims; per subspace a codebook of
  // `nCodes` centroids quantizes the sub-vector to 1 byte — dim·4 bytes →
  // m bytes per vector (64-dim float32 → 4 bytes at m=4), which is what
  // makes a 100 TB embedding store RAM-resident. Search is asymmetric
  // distance computation (ADC): exact query sub-vectors against a
  // 256-entry per-subspace lookup table, summed across subspaces.
  // ---------------------------------------------------------------------

  /** Portable PQ codebook: centroids are a DETERMINISTIC md5-ranked corpus
    * sample (k-means with zero Lloyd iterations — sampled init is the
    * standard quantizer bootstrap), so the codebook — and everything
    * downstream of it — is reproducible verbatim in any engine with md5
    * and carries a full DuckDB oracle, exactly the trick that made the
    * static-IVF twin (n4b) hash-checkable where trained k-means is not.
    * Returns (p, code, sv): subspace, centroid id in [0, nCodes), and the
    * centroid's dim/m-dim coordinates.
    *
    * Scale note: the ranking window is global, but it ranks only to
    * select `nCodes` seeds — at corpus scale you would md5-pre-sample
    * (the p3b trick) down to ~4·nCodes candidates before ranking; at
    * test scale the corpus IS the sample.
    */
  def pqCodebookPortable(
      vectors: DataFrame, // (vec_id LONG, v ARRAY<DOUBLE>)
      dim: Int,
      m: Int,
      nCodes: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim=$dim not divisible by m=$m")
    val sub = dim / m
    val w = Window.orderBy(
      graft.ops.Portable.md5Long(
        concat_ws(":", lit("pqseed"), col("vec_id").cast("string"))),
      col("vec_id"))
    vectors
      .withColumn("code", (row_number().over(w) - 1).cast("long"))
      .filter(col("code") < nCodes)
      .select(col("code"),
        explode(array((0 until m).map(p =>
          struct(lit(p).as("p"), slice(col("v"), p * sub + 1, sub).as("sv"))): _*))
          .as("e"))
      .select(col("e.p").as("p"), col("code"), col("e.sv").as("sv"))
  }

  /** Trained PQ codebook: per-subspace k-means (the faiss default). The
    * centroids are engine-specific (Lloyd iterations), so operators built
    * on this variant are rows-only + recall-spec'd, like the KMeans IVF
    * path (n4) — [[pqCodebookPortable]] is the hash-checkable twin.
    */
  def pqCodebookTrained(
      spark: org.apache.spark.sql.SparkSession,
      vectors: DataFrame,
      dim: Int,
      m: Int,
      nCodes: Int): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(m >= 1 && dim % m == 0, s"dim=$dim not divisible by m=$m")
    val sub = dim / m
    import spark.implicits._
    (0 until m).map { p =>
      val feat = vectors
        .select(array_to_vector(slice(col("v"), p * sub + 1, sub)).as("features"))
        .localCheckpoint(true)
      val model = new KMeans()
        .setK(nCodes).setSeed(42L + p).setMaxIter(10)
        .setFeaturesCol("features")
        .fit(feat)
      org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(feat)
      model.clusterCenters.zipWithIndex.toSeq
        .map { case (c, i) => (p, i.toLong, c.toArray.toSeq) }
        .toDF("p", "code", "sv")
    }.reduce(_ unionAll _)
  }

  /** Per-element sum over the sub-vector spelled as UNROLLED element_at
    * arithmetic (the term for index j comes from `term`), reduced
    * left-to-right so doubles match the SQL oracle's in-order
    * `list_aggregate` bit-for-bit (the n5/n6 precedent). Unrolled rather
    * than `zip_with`+`aggregate`: higher-order lambdas are CodegenFallback
    * — interpreted per row — and the encode evaluates this N·m·nCodes
    * times (measured 17 executor-CPU-s at sf0.1 in lambda form vs ~1 s
    * unrolled; the same lesson as d4's vote-sum rewrite).
    */
  private def unrolledSum(sub: Int)(term: Int => Column): Column =
    (1 to sub).map(term).reduce(_ + _)

  /** PQ encode: (vec_id, subspace, code) — each sub-vector to its nearest
    * centroid (squared L2, lowest code on ties). MAP-ONLY at any scale:
    * the codebook collapses to one (codes[], flat coords[]) pair per
    * subspace (m rows, broadcast); each vector row explodes to its m
    * sub-vectors and the whole nCodes×subDim argmin loop runs inside the
    * native codegen'd [[org.apache.spark.sql.graft.PqArgMinExpr]] — no
    * shuffle, no N·m·nCodes row stream (every relational spelling of that
    * stream measured 6-17 s at sf0.1 vs sub-second fused; see the
    * expression's scaladoc).
    */
  def pqEncode(
      vectors: DataFrame, // (vec_id LONG, v ARRAY<DOUBLE>)
      codebook: DataFrame, // (p INT, code LONG, sv ARRAY<DOUBLE>)
      dim: Int,
      m: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim=$dim not divisible by m=$m")
    val sub = dim / m
    // codes ascending (sort_array on (code, sv) structs orders by code),
    // coords flattened in the same order — the layout PqArgMinExpr scans.
    val cbArr = codebook.groupBy(col("p"))
      .agg(sort_array(collect_list(struct(col("code"), col("sv")))).as("cb"))
      .select(col("p").cast("int").as("p"),
        expr("transform(cb, x -> x.code)").as("codes"),
        flatten(expr("transform(cb, x -> x.sv)")).as("flat"))
    val el = vectors
      .select(col("vec_id"),
        explode(array((0 until m).map(p =>
          struct(lit(p).as("p"), slice(col("v"), p * sub + 1, sub).as("qsv"))): _*))
          .as("e"))
      .select(col("vec_id"), col("e.p").as("p"), col("e.qsv").as("qsv"))
    el.join(broadcast(cbArr), "p")
      .select(
        col("vec_id"),
        col("p").cast("long").as("subspace"),
        org.apache.spark.sql.graft.PqArgMinExpr
          .pqArgMin(col("qsv"), col("codes"), col("flat")).as("code"))
  }

  /** PQ ADC search: exact queries against the PQ-COMPRESSED store, cosine
    * metric. The classic asymmetric-distance layout:
    *  - per query, a lookup table of partial dot products
    *    ⟨q_p, centroid⟩ for all (subspace, code) — |Q|·m·nCodes rows,
    *    BROADCAST;
    *  - a query-independent table of centroid norms |c_p(code)|²,
    *    broadcast alongside;
    *  - the big side — the (cand_id, subspace, code) store, m SMALL ints
    *    per vector instead of dim floats — joins the LUT on (p, code) and
    *    one combinable groupBy sums the m partials into
    *    cos ≈ Σ⟨q_p,c_p⟩ / (|q|·√Σ|c_p|²). The store is scanned once and
    *    never rebuilt per query.
    * Partials are rounded to 9 dp and summed as DECIMAL so the m-way sums
    * are associative — order-independent in both engines (the e14/q6
    * hardening pattern); every downstream double op then sees identical
    * inputs. Ranking: rounded cosine desc, cand_id tie-break.
    */
  def annPq(
      queries: DataFrame, // (query_id LONG, qv ARRAY<DOUBLE>)
      candidates: DataFrame, // (cand_id LONG, v ARRAY<DOUBLE>)
      codebook: DataFrame, // (p INT, code LONG, sv ARRAY<DOUBLE>)
      dim: Int,
      m: Int,
      k: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim=$dim not divisible by m=$m")
    val sub = dim / m
    // The encoded store is MATERIALIZED (eager localCheckpoint) before the
    // ADC join — production PQ reads codes at rest, it does not re-run the
    // encoder per query. It is also what keeps the stage codegen'd: fused
    // into the join+aggregate stage, the m-way explode pushed the
    // generated method past the whole-stage limit and the entire stage
    // fell back to interpreted eval (measured 6.1 s vs 0.8 s at sf0.1 for
    // the scoring stage alone). The checkpoint backs the returned plan and
    // is freed by the caller's usual persistent-RDD sweep.
    val enc = pqEncode(
        candidates.select(col("cand_id").as("vec_id"), col("v")), codebook, dim, m)
      .select(col("vec_id").as("cand_id"), col("subspace").as("p"), col("code"))
      .localCheckpoint(true)
    val qel = queries
      .select(col("query_id"),
        explode(array((0 until m).map(p =>
          struct(lit(p).as("p"), slice(col("qv"), p * sub + 1, sub).as("qsv"))): _*))
          .as("e"))
      .select(col("query_id"), col("e.p").cast("int").as("p"), col("e.qsv").as("qsv"))
    val lut = qel.join(codebook.withColumn("p", col("p").cast("int")), "p")
      .select(col("query_id"), col("p").cast("long").as("p"), col("code"),
        round(unrolledSum(sub)(j =>
            element_at(col("qsv"), j) * element_at(col("sv"), j)), 9)
          .cast("decimal(24,9)").as("qd"))
    val cn = codebook
      .select(col("p").cast("long").as("p"), col("code"),
        round(unrolledSum(sub)(j =>
            element_at(col("sv"), j) * element_at(col("sv"), j)), 9)
          .cast("decimal(24,9)").as("c2"))
    val qn = queries.select(col("query_id"),
      sqrt(aggregate(transform(col("qv"), x => x * x), lit(0.0), (a, v) => a + v))
        .as("qnorm"))
    val scored = enc
      .join(broadcast(lut.join(cn, Seq("p", "code"))), Seq("p", "code"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum(col("qd")).as("dot"), sum(col("c2")).as("cn2"))
      .join(broadcast(qn), "query_id")
      .select(col("query_id"), col("cand_id"),
        round(col("dot").cast("double")
            / (col("qnorm") * sqrt(col("cn2").cast("double"))), 4)
          .as("cosine"))
    rankTopK(scored, k).orderBy(col("query_id"), col("rnk"))
  }

  /** IVFPQ — the composed faiss flagship index: a COARSE quantizer prunes
    * the search to one cell, and PQ-ADC scores only that cell's codes.
    * The coarse quantizer here is the data-independent sign-pattern cell
    * of [[annIvfStatic]] (2^cellDims cells), so the whole composition
    * stays engine-portable and hash-oracled; swapping in the trained
    * k-means cell (n4) and codebooks (n9) gives the production faiss
    * configuration with the same physical shape. Search work per query
    * drops from N·m code lookups to ~(N/2^cellDims)·m — the pruning that
    * makes code-resident ANN sublinear — at the usual single-probe recall
    * cost (neighbors in adjacent cells are missed; spec-asserted floor vs
    * the exact baseline).
    */
  def annIvfPq(
      queries: DataFrame, // (query_id LONG, qv ARRAY<DOUBLE>)
      candidates: DataFrame, // (cand_id LONG, v ARRAY<DOUBLE>)
      codebook: DataFrame, // (p INT, code LONG, sv ARRAY<DOUBLE>)
      dim: Int,
      m: Int,
      cellDims: Int,
      k: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim=$dim not divisible by m=$m")
    require(cellDims >= 1 && cellDims <= 16)
    val sub = dim / m
    def cellOf(vc: Column): Column = (0 until cellDims).map { j =>
      when(element_at(vc, j + 1) >= 0, 1 << (cellDims - 1 - j)).otherwise(0)
    }.reduce(_ + _)
    // The store at rest: (cand_id, cell, p, code) — codes plus the coarse
    // cell id, materialized once (same rationale as annPq's checkpoint).
    val enc = pqEncode(
        candidates.select(col("cand_id").as("vec_id"), col("v")), codebook, dim, m)
      .select(col("vec_id").as("cand_id"), col("subspace").as("p"), col("code"))
      .join(candidates.select(col("cand_id"), cellOf(col("v")).as("cell")), "cand_id")
      .localCheckpoint(true)
    val qel = queries
      .select(col("query_id"), cellOf(col("qv")).as("qcell"),
        explode(array((0 until m).map(p =>
          struct(lit(p).as("p"), slice(col("qv"), p * sub + 1, sub).as("qsv"))): _*))
          .as("e"))
      .select(col("query_id"), col("qcell"),
        col("e.p").cast("int").as("p"), col("e.qsv").as("qsv"))
    val lut = qel.join(codebook.withColumn("p", col("p").cast("int")), "p")
      .select(col("query_id"), col("qcell"),
        col("p").cast("long").as("p"), col("code"),
        round(unrolledSum(sub)(j =>
            element_at(col("qsv"), j) * element_at(col("sv"), j)), 9)
          .cast("decimal(24,9)").as("qd"))
    val cn = codebook
      .select(col("p").cast("long").as("p"), col("code"),
        round(unrolledSum(sub)(j =>
            element_at(col("sv"), j) * element_at(col("sv"), j)), 9)
          .cast("decimal(24,9)").as("c2"))
    val qn = queries.select(col("query_id"),
      sqrt(aggregate(transform(col("qv"), x => x * x), lit(0.0), (a, v) => a + v))
        .as("qnorm"))
    val scored = enc
      .join(broadcast(lut.join(cn, Seq("p", "code"))), Seq("p", "code"))
      .filter(col("cell") === col("qcell"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum(col("qd")).as("dot"), sum(col("c2")).as("cn2"))
      .join(broadcast(qn), "query_id")
      .select(col("query_id"), col("cand_id"),
        round(col("dot").cast("double")
            / (col("qnorm") * sqrt(col("cn2").cast("double"))), 4)
          .as("cosine"))
    rankTopK(scored, k).orderBy(col("query_id"), col("rnk"))
  }
}
