package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted ANN index lifecycle — build once, SAVE, reload and search
  * many times. The n-family query entries rebuild their index inside one
  * plan (the right shape for a self-contained oracled query); a
  * production retrieval service amortizes the build across millions of
  * queries, which needs the index as a durable LAYOUT:
  *
  *   - store: `<path>/cell=K/part-*.parquet` — the IVF cell is a Hive
  *     partition column, so probing a cell prunes to one directory at
  *     PLANNING time (`PartitionFilters`, before any file opens). Search
  *     cost scales with probed cells because the layout enforces it, not
  *     because a join happens to be selective.
  *   - search: the (small, bounded) query set's probe cells are collected
  *     and pushed as an `isin` partition predicate; candidates join per
  *     cell and rank by exact cosine — identical semantics (and, for the
  *     static quantizer, identical RESULTS) to [[Similarity.annIvfStatic]],
  *     pinned in IndexStoreSpec.
  *
  * The static sign-pattern quantizer matches `n4b`; a trained quantizer
  * (n4/n9/n11) persists the same way with its centroid/codebook table
  * written next to the cells.
  */
object IndexStore {

  private[graft] def cellOf(v: org.apache.spark.sql.Column, dims: Int) =
    (0 until dims).map { j =>
      when(element_at(v, j + 1) >= 0, 1 << (dims - 1 - j)).otherwise(0)
    }.reduce(_ + _)

  /** Build + persist the IVF store: (vec_id, v, cell) partitioned by cell. */
  def saveIvfStatic(vectors: DataFrame, dims: Int, path: String): Unit = {
    require(dims >= 1 && dims <= 16)
    vectors
      .select(col("vec_id"), col("v"), cellOf(col("v"), dims).as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
  }

  /** Search the persisted store: top-k per query by exact cosine within
    * the query's cell. `queries`: (query_id, qv ARRAY<DOUBLE>) — ANN's
    * contract is a bounded query set, so collecting its distinct probe
    * cells (≤ 2^dims values) is a scalar-sized driver round-trip that
    * buys planning-time directory pruning on the corpus-sized store.
    */
  def searchIvfStatic(
      spark: SparkSession, path: String, queries: DataFrame,
      dims: Int, k: Int): DataFrame = {
    val q = queries.select(col("query_id"), col("qv"),
      cellOf(col("qv"), dims).as("cell"))
    val probeCells = q.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val store = spark.read.parquet(path)
      .filter(col("cell").isin(probeCells: _*))
    val scored = q.join(store, "cell")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        round(Similarity.cosine(col("qv"), col("v")), 4).as("cosine"))
    Similarity.rankTopK(scored, k).orderBy(col("query_id"), col("rnk"))
  }

  /** Add a batch to the persisted IVF store (call AFTER
    * [[dedupNewIvfStatic]] has adjudicated it). Append-only into the
    * same Hive cell layout; stored state is never rewritten.
    */
  def appendIvfStatic(vectors: DataFrame, dims: Int, path: String): Unit =
    vectors
      .select(col("vec_id"), col("v"), cellOf(col("v"), dims).as("cell"))
      .write.mode("append").partitionBy("cell").parquet(path)

  /** Incremental SEMANTIC dedup against the persisted store —
    * [[graft.dedup.DedupStore.searchNew]]'s embedding-space sibling and
    * the d18/SemDeDup decision for an ARRIVING batch: each new vector
    * probes only its own cell's stored members (planning-time partition
    * pruning, exactly like [[searchIvfStatic]]) plus its own batch, and
    * is flagged a duplicate if any stored neighbor — or any
    * SMALLER-id batch neighbor, the deterministic arrival-greedy rule —
    * reaches `eps` cosine. Returns one row per batch vector:
    * (vec_id, cell, dup_of, dup_cos, is_dup), dup_of = the smallest
    * qualifying neighbor id (its cosine rounded at 4), null when the
    * vector is novel. The curation lifecycle is
    * dedupNew → drop flagged → [[appendIvfStatic]] the survivors —
    * O(batch × cell-slice) work per increment, never O(corpus²).
    * IndexStoreSpec pins equivalence to the batch recomputation on
    * (stored ∪ new) restricted to new-touching pairs, and the
    * partition-pruned probe scan. The result carries a localCheckpoint
    * backing (the batch feeds the cell collect and both probe arms);
    * free it after consumption with the standard
    * `GraftInternals.freeLocalCheckpoint` sweep, as with
    * [[graft.dedup.DedupStore.searchNew]].
    */
  def dedupNewIvfStatic(
      spark: SparkSession, path: String, newVecs: DataFrame,
      dims: Int, eps: Double): DataFrame = {
    val asg = newVecs
      .select(col("vec_id"), col("v"), cellOf(col("v"), dims).as("cell"))
      .localCheckpoint(true) // feeds the cell collect + both probe arms
    val probeCells = asg.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq // bounded by 2^dims, like search
    val stored = spark.read.parquet(path)
      .filter(col("cell").isin(probeCells: _*))
    val storedArm = asg.join(
        stored.select(col("cell"), col("vec_id").as("nbr_id"),
          col("v").as("nv")), "cell")
      .filter(Similarity.cosine(col("v"), col("nv")) >= eps)
      .select(col("vec_id"), col("nbr_id"),
        round(Similarity.cosine(col("v"), col("nv")), 4).as("cos"))
    val batchArm = asg.join(
        asg.select(col("cell").as("cell_b"), col("vec_id").as("nbr_id"),
          col("v").as("nv")),
        col("cell") === col("cell_b") && col("nbr_id") < col("vec_id"))
      .filter(Similarity.cosine(col("v"), col("nv")) >= eps)
      .select(col("vec_id"), col("nbr_id"),
        round(Similarity.cosine(col("v"), col("nv")), 4).as("cos"))
    val best = storedArm.unionAll(batchArm)
      .groupBy(col("vec_id"))
      .agg(min(struct(col("nbr_id"), col("cos"))).as("m"))
      .select(col("vec_id"), col("m.nbr_id").as("dup_of"),
        col("m.cos").as("dup_cos"))
    asg.join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup_of"), col("dup_cos"),
        col("dup_of").isNotNull.as("is_dup"))
      .orderBy(col("vec_id"))
  }

  /** Maintenance: rewrite the IVF store into one vec_id-clustered file
    * per cell. [[appendIvfStatic]] is append-only into the Hive cell
    * layout, so each increment leaves shuffle-parallelism × |touched
    * cells| small files and a many-increment store's probe cost grows
    * with FILE COUNT even while its row count is stable — exactly the
    * fragmentation [[graft.dedup.DedupStore.compact]] fixes for the
    * band/shingle store (r11: 2192 files → 32, probe 5.8 s → 3.6 s).
    * One task per cell (hash-repartition on the Hive partition key),
    * rows sorted by vec_id, so every `cell=K` directory collapses to a
    * single id-clustered file and the probe's cell equi-join reads
    * sequentially.
    *
    * [[searchIvfStatic]]/[[dedupNewIvfStatic]] results are row-identical
    * before/after (the store holds the same rows; IndexStoreSpec pins it).
    *
    * Crash safety, the DedupStore rename-aside pattern: the rewrite
    * stages into a sibling `<path>.compact.tmp`, then swaps with two
    * renames — live → `<path>.old`, tmp → live, delete `.old`. A crash
    * anywhere in the swap leaves either the live dir or its `.old` copy
    * intact (recover by renaming `.old` back) — never a hole, vs the
    * naive delete-then-rename whose crash window leaves no store at
    * all. A production deployment fronts this with a manifest log
    * (Delta/Iceberg-style), out of scope for the path-based store.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(path + ".compact.tmp")
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    fs.delete(tmp, true)
    // Retry-once on a transient task-commit denial (the r18 VERIFY
    // failure class — see [[graft.dedup.DedupStore.stagedWrite]]); the
    // staged dir is private until the swap, so a clean retry is safe.
    graft.dedup.DedupStore.stagedWrite(spark, tmp.toString) {
      spark.read.parquet(path)
        .repartition(col("cell"))
        .sortWithinPartitions(col("vec_id"))
        .write.partitionBy("cell").parquet(tmp.toString)
    }
    fs.delete(old, true) // leftover from a prior crashed compact
    require(fs.rename(live, old), "compact: rename of live store aside failed")
    require(fs.rename(tmp, live), "compact: rename of rewrite into place failed")
    fs.delete(old, true)
    ()
  }

  /** Takedown: rewrite the store WITHOUT the given vector ids (first
    * column of `ids`, castable to long) — [[graft.dedup.DedupStore
    * .remove]]'s ANN sibling. After remove, [[searchIvfStatic]] /
    * [[dedupNewIvfStatic]] behave exactly as if the removed vectors had
    * never been saved (IndexStoreSpec pins probe equality with a
    * from-scratch store built without them). One
    * anti-join rewrite through the compact's crash-safe rename-aside
    * swap — O(store) like a compact; batch takedown ids together.
    * Removing every stored vector leaves an empty store that must be
    * re-saved before further probes.
    */
  def remove(spark: SparkSession, path: String, ids: DataFrame): Unit = {
    val gone = ids.select(col(ids.columns.head).cast("long").as("vec_id")).distinct()
    val conf = spark.sparkContext.hadoopConfiguration
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(path + ".remove.tmp")
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    fs.delete(tmp, true)
    graft.dedup.DedupStore.stagedWrite(spark, tmp.toString) {
      spark.read.parquet(path).join(gone, Seq("vec_id"), "left_anti")
        .write.partitionBy("cell").parquet(tmp.toString)
    }
    fs.delete(old, true) // leftover from a prior crashed swap
    require(fs.rename(live, old), "remove: rename of live store aside failed")
    require(fs.rename(tmp, live), "remove: rename of rewrite into place failed")
    fs.delete(old, true)
    ()
  }
}
