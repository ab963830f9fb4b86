package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted near-duplicate index — the INCREMENTAL curation shape.
  * The batch dedup operators (d2/d3/d16) self-join a corpus; a
  * production pipeline curates ARRIVING batches against everything
  * already accepted, and re-shingling + re-hashing the accumulated
  * corpus per batch is O(corpus) work for O(batch) questions. This
  * store persists the two relations the MinHash-LSH operator derives:
  *
  *   `<path>/bands`:    (band, bucket, id) — the blocking state, Hive-
  *                      partitioned by `band` (bands are always probed
  *                      together, but the partition keeps per-band files
  *                      mergeable and lets a band count change migrate)
  *   `<path>/shingles`: (id, s) — the exact-refine state
  *   `<path>/layout`:   one-row meta (id_buckets) — v2 stores Hive-
  *                      partition `shingles`/`counts` by
  *                      idb = pmod(id, id_buckets), so the refine's
  *                      candidate-id restriction prunes store FILES at
  *                      planning time (pre-upgrade stores read as
  *                      legacy; [[compact]] migrates them)
  *
  * [[Dedup.minhashBanded]]'s hash family is deterministic across
  * batches, so probing stored bands with a new batch's bands is
  * EQUAL to running the batch operator on (stored ∪ new) and keeping
  * the pairs that touch the new batch — DedupStoreSpec pins that
  * equality. [[append]] adds the new batch's rows to both relations;
  * nothing old is ever recomputed or rewritten.
  *
  * Scale shape: save/append write once, partitioned; [[searchNew]]
  * shuffles only the NEW batch's bands/shingles plus the matched
  * buckets' rows — the stored corpus streams through the band
  * equi-join and the refine join, never through a self-join.
  */
object DedupStore {

  /** Default id-bucket count for new stores (the v2 layout below). */
  private[dedup] val DefaultIdBuckets = 32

  private def idbOf(id: Column, buckets: Int): Column =
    pmod(id, lit(buckets.toLong)).cast("int")

  /** Run a STAGING parquet write (into a compact/remove `.tmp` dir that
    * no reader consults), retrying ONCE if the write job dies on a
    * transient task-commit denial. The race (r18 driver run,
    * VERIFY_r18.json): a task's FileFormatWriter commit can be refused
    * by the driver's OutputCommitCoordinator ("Not committed because
    * the driver did not authorize commit") — seen under heavy box load,
    * where a long-stalled first attempt and the coordinator's
    * authorization state disagree. The denial is wrapped in
    * SparkException(TASK_WRITE_FAILED) by the write path, so instead of
    * being reclassified as the retryable TaskCommitDenied reason it
    * counts as a plain task failure — and local mode runs with
    * maxTaskFailures = 1, so ONE transient denial aborts the whole job.
    * A staging write is idempotent by construction (private dir, no
    * reader until the swap), so the safe response is: delete the staged
    * dir, run the write again. Non-staging appends are NOT wrapped —
    * their failure surfaces to the store's documented recover contract.
    */
  private[graft] def stagedWrite(
      spark: SparkSession, dest: String)(write: => Unit): Unit = {
    def denied(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16).exists {
        c =>
          c.getClass.getName.endsWith("CommitDeniedException") ||
            Option(c.getMessage).exists(_.contains("did not authorize commit"))
      }
    try write
    catch {
      case t: Throwable if denied(t) =>
        System.err.println(
          s"stagedWrite: transient task-commit denial writing $dest — " +
            "clearing the staged dir and retrying once " +
            s"(${t.getClass.getSimpleName})")
        val p = new org.apache.hadoop.fs.Path(dest)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        write
    }
  }

  /** Layout metadata — one tiny JSON FILE at `<path>/layout` recording
    * the store's bucket count. A plain FS read/write, deliberately NOT
    * parquet: every probe/append consults it, and a Spark job per
    * consult (~0.3 s of scheduling) would tax the very increments the
    * layout exists to speed up. Written rename-aside (atomic), so a
    * crash mid-write never leaves a half-readable meta. AUTHORITATIVE:
    * readers prune/write bucketed only when it exists and parses. A
    * store whose relations carry partition dirs but no meta (a crash
    * inside a migrating compact's swap, before its layout — ordered
    * last — went in) READS correctly as legacy via the explicit column
    * projections, just unpruned; APPENDS are refused in that state
    * ([[appendLayout]]) because a flat append next to partition dirs
    * corrupts partition discovery for every later read.
    */
  private[dedup] def writeLayout(
      spark: SparkSession, path: String, key: String, buckets: Int): Unit =
    writeLayoutFile(spark, s"$path/layout", key, buckets)

  /** [[writeLayout]] at an explicit FILE path — so a migrating
    * [[compact]] can STAGE the meta inside its `.compact.tmp` dir and
    * move it through the same rename-aside swap as the relations
    * (ordered last), instead of writing it after the swap where a crash
    * leaves bucketed relations with no meta.
    */
  private[dedup] def writeLayoutFile(
      spark: SparkSession, filePath: String, key: String, buckets: Int): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(filePath)
    val fs = dst.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(
      dst.getParent, "." + dst.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(s"""{"$key":$buckets}""".getBytes("UTF-8"))
    finally out.close()
    fs.delete(dst, true)
    require(fs.rename(tmp, dst), "layout meta: rename into place failed")
  }

  /** True iff `dest` exists and carries Hive partition dirs for `key`
    * (`key=N/...`) — the on-disk evidence of a bucketed relation,
    * consulted when the layout meta is MISSING (a crash between a
    * migrating compact's relation swaps and its layout swap).
    */
  private[dedup] def hasPartitionDirs(
      spark: SparkSession, dest: String, key: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dest)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(st =>
      st.isDirectory && st.getPath.getName.startsWith(key + "="))
  }

  /** The write layout for an APPEND, derived from the meta AND the disk.
    * A meta-less store whose relation carries `key=` partition dirs is a
    * crashed migration: appending FLAT files next to the partition dirs
    * would wedge every subsequent read ('Conflicting directory
    * structures'), and inferring a bucket count from the dirs risks
    * silently-wrong pruning (a sparse store need not materialize every
    * bucket) — so the append REFUSES and directs the operator to the
    * idempotent repair (recover + compact re-run, which rewrites the
    * relations and commits the meta through the same swap).
    */
  private[dedup] def appendLayout(
      spark: SparkSession, path: String, key: String, probeRel: String,
      partKey: String): Option[Int] = {
    val layout = readLayout(spark, path, key)
    if (layout.isEmpty)
      require(!hasPartitionDirs(spark, s"$path/$probeRel", partKey),
        s"$path/$probeRel is $partKey-bucketed on disk but the store's " +
          "layout meta is missing (crashed migration?) — run recover() " +
          "then compact() before appending; a flat append here would " +
          "corrupt partition discovery for every subsequent read")
    layout
  }

  private[dedup] def readLayout(
      spark: SparkSession, path: String, key: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/layout")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else if (fs.getFileStatus(p).isDirectory)
      // transitional: the first v2 spelling persisted the meta as a
      // one-row parquet directory
      Some(spark.read.parquet(p.toString).select(col(key)).first().getInt(0))
    else {
      val in = fs.open(p)
      val body =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      ("\"" + key + "\"\\s*:\\s*(\\d+)").r.findFirstMatchIn(body)
        .map(_.group(1).toInt)
    }
  }

  private def writeIdBucketed(
      df: DataFrame, buckets: Int, dest: String, mode: String,
      sortById: Boolean = false): Unit = {
    val parted = df.withColumn("idb", idbOf(col("id"), buckets))
      .repartition(buckets, col("idb"))
    (if (sortById) parted.sortWithinPartitions(col("id")) else parted)
      .write.mode(mode).partitionBy("idb").parquet(dest)
  }

  private def write(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int, path: String,
      mode: String, idBuckets: Option[Int]): Unit = {
    val sh = Dedup.shingleIndex(docs, idCol, textCol, n).localCheckpoint(true)
    Dedup.minhashBanded(sh, bands, rowsPerBand)
      .write.mode(mode).partitionBy("band").parquet(s"$path/bands")
    val counts = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    // Per-doc shingle counts, stored so the refine never re-aggregates
    // the corpus-sized shingle relation per probe. Both id-keyed
    // relations are Hive-partitioned by idb = pmod(id, buckets) (the v2
    // layout): the refine only ever reads CANDIDATE-involved ids — a
    // batch-hit-bounded set — so the probe collects their distinct
    // buckets (≤ buckets scalars) and prunes the stored FILES at
    // planning time, the IVF store's cell trick applied to ids. One
    // repartition by bucket per write keeps it to `buckets` files per
    // increment (same order as today's shuffle-file splatter).
    idBuckets match {
      case Some(b) =>
        writeIdBucketed(sh, b, s"$path/shingles", mode)
        writeIdBucketed(counts, b, s"$path/counts", mode)
      case None =>
        sh.write.mode(mode).parquet(s"$path/shingles")
        counts.write.mode(mode).parquet(s"$path/counts")
    }
    org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(sh)
  }

  /** Build + persist the index for an initial corpus. `idBuckets` picks
    * the id-bucket count of the v2 layout (≤ 1 = the legacy unbucketed
    * layout, kept for the A/B harnesses and pre-upgrade parity).
    */
  def save(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int, path: String,
      idBuckets: Int = DefaultIdBuckets): Unit = {
    val b = if (idBuckets > 1) Some(idBuckets) else None
    write(docs, idCol, textCol, n, bands, rowsPerBand, path, "overwrite", b)
    b match {
      case Some(x) => writeLayout(docs.sparkSession, path, "id_buckets", x)
      case None =>
        val lp = new org.apache.hadoop.fs.Path(s"$path/layout")
        val fs = lp.getFileSystem(
          docs.sparkSession.sparkContext.hadoopConfiguration)
        fs.delete(lp, true)
        ()
    }
  }

  /** Add a new batch to the stored index (call AFTER [[searchNew]] has
    * adjudicated it). Append-only: old state is untouched; the batch is
    * written in whatever layout the store declares (a legacy store
    * stays legacy until [[compact]] migrates it).
    */
  def append(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int, path: String): Unit =
    write(docs, idCol, textCol, n, bands, rowsPerBand, path, "append",
      appendLayout(docs.sparkSession, path, "id_buckets", "shingles", "idb"))

  /** Maintenance: rewrite the store's three relations into few large,
    * clustered files. Append-only increments each leave their own file
    * splatter (every [[append]] writes shuffle-parallelism × |bands|
    * band files plus a shingle/count file set), so a many-increment
    * store's probe cost grows with FILE COUNT even while its row count
    * is stable (measured: 2192 files / 5.8 s probe at 512× and 16
    * appends). One
    * compaction pays a bounded rewrite to restore the fresh-store scan:
    *
    *   - `bands`: one task per band (hash-repartition on the Hive
    *     partition key), rows sorted by (bucket, id) — each band
    *     directory collapses to a single bucket-clustered file, so the
    *     probe's band equi-join reads sequentially;
    *   - `shingles`/`counts`: range-repartitioned and sorted by `id`
    *     into `idFiles` files — each file carries a TIGHT min/max id
    *     range in its parquet footer (the id-bucketed layout the store
    *     notes promise), which clusters the refine's id-restricted scan
    *     and positions the layout for row-group skipping.
    *
    * [[searchNew]] results are byte-identical before/after (the store
    * holds the same rows; DedupStoreSpec pins it). The rewrite stages
    * into `<path>/.compact.tmp`, then swaps each relation with two
    * renames: live → `<rel>.old`, tmp → live, delete `.old`. A crash
    * anywhere in the swap leaves either the live dir or its `.old`
    * copy intact — never a hole — and the worst case is recovered by
    * renaming `.old` back (vs the naive delete-then-rename, whose
    * crash window leaves the relation missing entirely and breaks
    * [[searchNew]]). A production deployment would still front this
    * with a manifest/transaction log (Delta/Iceberg-style), which is
    * out of scope for the path-based store.
    */
  def compact(spark: SparkSession, path: String, idFiles: Int = 8): Unit = {
    require(idFiles >= 1, s"idFiles must be >= 1; got $idFiles")
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(path, ".compact.tmp")
    fs.delete(tmp, true)
    stagedWrite(spark, s"$tmp/bands") {
      spark.read.parquet(s"$path/bands")
        .repartition(col("band"))
        .sortWithinPartitions(col("bucket"), col("id"))
        .write.partitionBy("band").parquet(s"$tmp/bands")
    }
    // A bucketed store compacts to ONE id-sorted file per bucket; a
    // LEGACY store MIGRATES to the bucketed layout here (the gramdf-
    // backfill precedent: compact is the store's upgrade point). The
    // layout meta is STAGED into tmp and moves through the same
    // rename-aside swap as the relations, ordered LAST: a crash
    // anywhere mid-migration leaves bucketed relations with a missing
    // (never a wrong) meta — reads stay correct as legacy, and
    // [[appendLayout]] refuses appends until the idempotent
    // recover + compact re-run commits the meta. (The reverse order
    // would leave a bucketed meta over still-legacy relations, which
    // would corrupt the next append's partition discovery.)
    val buckets = readLayout(spark, path, "id_buckets")
      .getOrElse(DefaultIdBuckets)
    stagedWrite(spark, s"$tmp/shingles") {
      writeIdBucketed(spark.read.parquet(s"$path/shingles")
          .select(col("id"), col("s")),
        buckets, s"$tmp/shingles", "overwrite", sortById = true)
    }
    stagedWrite(spark, s"$tmp/counts") {
      writeIdBucketed(spark.read.parquet(s"$path/counts")
          .select(col("id"), col("n_sh")),
        buckets, s"$tmp/counts", "overwrite", sortById = true)
    }
    writeLayoutFile(spark, s"$tmp/layout", "id_buckets", buckets)
    swapRelations(fs, root, tmp, Seq("bands", "shingles", "counts", "layout"))
  }

  /** The shared crash-safe swap (compact/remove): for each staged
    * relation, live → `<rel>.old`, tmp → live, delete `.old`. A crash
    * anywhere leaves either the live dir or its `.old` copy intact
    * (recover by renaming `.old` back) — never a hole, though the
    * window between the two renames has no live path and a concurrent
    * probe can fail until recovery.
    *
    * Cross-RELATION consistency: relations swap one at a time, so a
    * crash BETWEEN relation swaps leaves mixed generations (e.g. bands
    * already purged of takedown ids while shingles still carry them).
    * The recovery contract is therefore two steps: (1) per-relation,
    * restore any relation whose live dir is missing from its `.old`
    * copy ([[recoverRelations]] does both mechanically); (2) RE-RUN the
    * interrupted compact/remove in full — both are idempotent (compact
    * is a layout rewrite; remove's anti-join of already-absent ids is a
    * no-op), and the re-run restores cross-relation agreement.
    * SwapCrashSpec drives every kill point and pins recover + re-run →
    * probe-identical. A production deployment would make the
    * multi-relation swap atomic behind a manifest/transaction log
    * (Delta/Iceberg-style), out of scope for the path-based store.
    */
  /** TEST-ONLY failpoint: the number of [[swapRelations]] renames —
    * counted ACROSS calls, so a multi-store operation like
    * `ReleaseStore.remove` (three swaps back to back) exposes every
    * kill point of every swap — completed before an injected
    * IOException is thrown. k = 0 .. total-renames−1 covers a crash
    * before/between/after every rename, including the cross-relation
    * and cross-store mixed-generation windows (SwapCrashSpec /
    * ReleaseStoreSpec drive them all). Int.MaxValue (= never) in
    * production; the injected throw resets it.
    */
  @volatile private[graft] var swapFailAfterRenames: Int = Int.MaxValue

  private[graft] def swapRelations(
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      tmp: org.apache.hadoop.fs.Path, rels: Seq[String]): Unit = {
    def rename(from: org.apache.hadoop.fs.Path,
               to: org.apache.hadoop.fs.Path, what: String): Unit = {
      if (swapFailAfterRenames != Int.MaxValue) {
        if (swapFailAfterRenames <= 0) {
          swapFailAfterRenames = Int.MaxValue
          throw new java.io.IOException(
            s"injected swap crash before rename of $what")
        }
        swapFailAfterRenames -= 1
      }
      require(fs.rename(from, to), s"store swap: rename of $what failed")
    }
    rels.foreach { rel =>
      val live = new org.apache.hadoop.fs.Path(root, rel)
      val old = new org.apache.hadoop.fs.Path(root, rel + ".old")
      fs.delete(old, true) // leftover from a prior crashed swap
      // A relation can lack a live dir: a pre-upgrade store gaining a
      // backfilled relation (SpanStore gramdf), or recovery from a crash
      // that already moved it aside. Nothing to rename aside then.
      if (fs.exists(live)) rename(live, old, s"live $rel aside")
      rename(new org.apache.hadoop.fs.Path(tmp, rel), live, s"$rel into place")
      fs.delete(old, true)
    }
    fs.delete(tmp, true)
    ()
  }

  /** Mechanical per-relation recovery after a crashed [[swapRelations]]
    * (step 1 of the two-step contract in its doc): any relation whose
    * live dir is missing is restored from its `.old` copy; a leftover
    * `.old` next to an intact live dir (crash after the second rename)
    * is dropped. Every relation is left readable on SOME generation;
    * the caller must then re-run the interrupted compact/remove (step
    * 2) to restore cross-relation agreement. Idempotent.
    */
  def recoverRelations(
      spark: SparkSession, path: String, rels: Seq[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    rels.foreach { rel =>
      val live = new org.apache.hadoop.fs.Path(root, rel)
      val old = new org.apache.hadoop.fs.Path(root, rel + ".old")
      if (!fs.exists(live) && fs.exists(old))
        require(fs.rename(old, live), s"recovery rename of $rel failed")
      else if (fs.exists(old))
        fs.delete(old, true)
    }
  }

  /** [[recoverRelations]] over this store's relation set (the layout
    * meta moves through the same swap since it was staged — recover it
    * like any relation; a legacy store without one is a no-op).
    */
  def recover(spark: SparkSession, path: String): Unit =
    recoverRelations(spark, path, Seq("bands", "shingles", "counts", "layout"))

  /** Takedown: rewrite the store WITHOUT the given doc ids (first column
    * of `ids`, castable to long) — the DMCA/PII/right-to-be-forgotten
    * path a production corpus store needs monthly. After remove,
    * [[searchNew]] behaves exactly as if the removed docs had never been
    * saved (DedupStoreSpec pins probe equality with a from-scratch store
    * built without them): all three relations are rewritten through an
    * anti-join on id and swapped in with the compact's crash-safe
    * rename-aside pattern. Cost is one bounded rewrite of the store —
    * the same O(store) price as a compact, amortized over takedown
    * batches (collect takedown ids and remove them together). Removing
    * every stored doc leaves an empty store that must be re-[[save]]d
    * before further probes (a parquet dir with no rows has no schema).
    */
  def remove(spark: SparkSession, path: String, ids: DataFrame): Unit = {
    val gone = ids.select(col(ids.columns.head).cast("long").as("id")).distinct()
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(path, ".remove.tmp")
    fs.delete(tmp, true)
    // Takedown lists are usually tiny (AQE broadcasts the anti-join
    // side); the store streams through the rewrite once per relation.
    // The id-keyed relations rewrite in the store's declared layout.
    stagedWrite(spark, s"$tmp/bands") {
      spark.read.parquet(s"$path/bands").join(gone, Seq("id"), "left_anti")
        .write.partitionBy("band").parquet(s"$tmp/bands")
    }
    val layout = readLayout(spark, path, "id_buckets")
    def rewrite(rel: String, cols: Seq[String]): Unit = stagedWrite(spark, s"$tmp/$rel") {
      val survivors = spark.read.parquet(s"$path/$rel")
        .select(cols.map(col): _*)
        .join(gone, Seq("id"), "left_anti")
      layout match {
        case Some(b) => writeIdBucketed(survivors, b, s"$tmp/$rel", "overwrite")
        case None => survivors.write.parquet(s"$tmp/$rel")
      }
    }
    rewrite("shingles", Seq("id", "s"))
    rewrite("counts", Seq("id", "n_sh"))
    swapRelations(fs, root, tmp, Seq("bands", "shingles", "counts"))
  }

  /** [[searchNew]]'s candidate stage: (doc_a, doc_b) bucket-collision
    * pairs of a new batch's banded minhashes vs the stored band relation
    * (both orientations) and within the batch itself — exactly the
    * (stored ∪ new) candidate set minus stored×stored. Every arm is an
    * equi hash join on (band, bucket); the stored corpus appears only as
    * one SIDE of the new-vs-stored joins, never in a self-join — the
    * property that keeps an increment O(batch), pinned in PlanShapeSpec.
    */
  private[graft] def candidatePairs(
      spark: SparkSession, path: String, newBands: DataFrame): DataFrame = {
    val stored = spark.read.parquet(s"$path/bands")
    def pairsOf(a: DataFrame, b: DataFrame): DataFrame =
      a.select(col("band"), col("bucket"), col("id").as("doc_a"))
        .join(b.select(col("band").as("band_b"), col("bucket").as("bucket_b"),
          col("id").as("doc_b")),
          col("band") === col("band_b") && col("bucket") === col("bucket_b") &&
            col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
    // New-vs-stored in ONE equi-join: each unordered collision pair
    // appears once per shared bucket regardless of which side holds the
    // smaller id, so orienting with least/greatest replaces the old
    // two-arm union and HALVES the stored band scan (the arms were
    // identical scans Spark cannot reuse — only exchanges dedupe).
    val crossPairs = newBands
      .select(col("band"), col("bucket"), col("id").as("id_n"))
      .join(stored.select(col("band").as("band_b"),
        col("bucket").as("bucket_b"), col("id").as("id_s")),
        col("band") === col("band_b") && col("bucket") === col("bucket_b") &&
          col("id_n") =!= col("id_s"))
      .select(least(col("id_n"), col("id_s")).as("doc_a"),
        greatest(col("id_n"), col("id_s")).as("doc_b"))
    crossPairs
      .unionAll(pairsOf(newBands, newBands))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Near-duplicate pairs of a NEW batch against the stored corpus AND
    * within the batch itself, exact-Jaccard-refined at `threshold` —
    * without touching the stored corpus beyond the band equi-join and
    * the refine of matched candidates. Returns (doc_a, doc_b, jaccard)
    * with the [[Dedup.minhashLshPairs]] orientation (doc_a < doc_b);
    * ids must be globally unique across batches (caller contract).
    */
  def searchNew(
      spark: SparkSession, path: String,
      newDocs: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int, threshold: Double): DataFrame =
    searchNewImpl(spark, path, newDocs, idCol, textCol,
      n, bands, rowsPerBand, threshold, alsoAppend = false)

  /** [[searchNew]] + [[append]] fused into ONE pass over the batch: the
    * probe's shingle and band relations are written to the store after
    * the probe RESULT has materialized (an eager checkpoint — required
    * for correctness, not just reuse: the refine reads the stored
    * relations lazily, so appending first would double-count the
    * batch's own shingles). Saves the batch's second tokenize + shingle
    * + minhash pass — the adjudicate-then-accept shape every release
    * increment runs ([[graft.release.ReleaseStore.increment]]).
    * Equality with the two-call spelling is spec-pinned
    * (DedupStoreSpec); the returned result carries a localCheckpoint —
    * caller frees it.
    */
  def searchNewAndAppend(
      spark: SparkSession, path: String,
      newDocs: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int, threshold: Double): DataFrame =
    searchNewImpl(spark, path, newDocs, idCol, textCol,
      n, bands, rowsPerBand, threshold, alsoAppend = true)

  private def searchNewImpl(
      spark: SparkSession, path: String,
      newDocs: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int, threshold: Double,
      alsoAppend: Boolean): DataFrame = {
    val newSh = Dedup.shingleIndex(newDocs, idCol, textCol, n)
      .localCheckpoint(true)
    val newBands = Dedup.minhashBanded(newSh, bands, rowsPerBand)
      .localCheckpoint(true) // probed twice (vs store, vs itself)
    val candidates = candidatePairs(spark, path, newBands)
      // Consumed three times below (id restriction + both refine joins).
      .localCheckpoint(true)
    // candidates' EAGER checkpoint just truncated lineage above newBands,
    // so newBands' backing is no longer reachable from the result plan
    // and the caller's standard post-consumption sweep could never free
    // it (the round-10 n13 leak class). Its last consumer ran inside the
    // checkpoint materialization — release it now (probe-only path; the
    // fused path writes it to the store first). newSh stays: allSh
    // below keeps it reachable.
    if (!alsoAppend)
      org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(newBands)
    // Refine touches only candidate-involved docs: restrict the stored
    // shingle scan to those ids (a batch-hit-sized set), and read the
    // per-doc counts from the store instead of re-aggregating the
    // corpus-sized shingle relation — the two O(corpus) stages the first
    // spelling of this probe still paid per increment. On a v2
    // (id-bucketed) layout the restriction ALSO prunes files at
    // planning time: the candidate ids' distinct buckets are a bounded
    // driver scalar set (≤ id_buckets values, from a checkpointed
    // batch-hit-sized relation), pushed as a partition filter — so the
    // refine's stored IO is O(hit buckets), not O(corpus), no matter
    // how many increments the store has absorbed. The explicit column
    // projections keep a meta-less (pre-upgrade or mid-migration)
    // store reading correctly as legacy.
    val candIds = candidates.select(col("doc_a").as("id"))
      .unionAll(candidates.select(col("doc_b").as("id")))
      .distinct()
    val layout = readLayout(spark, path, "id_buckets")
    // Bucket discovery uses only the STORED candidate ids (ids are
    // globally unique, so a batch id can never be in the store — its
    // bucket would be read for nothing). The discovery job is gated on
    // the stored relation being big enough to pay for it, exactly as
    // the span store's intersection pass (`layout` itself stays
    // ungated — it also decides the APPEND write layout below).
    val candBuckets = layout
      .filter(_ => SpanStore.dirBytes(spark, s"$path/shingles") >=
        SpanStore.PruneMinStoreBytes)
      .map(b =>
        candIds.join(newSh.select(col("id")).distinct(), Seq("id"), "left_anti")
          .select(idbOf(col("id"), b).as("b")).distinct()
          .collect().map(_.getInt(0)).toSeq)
    def pruned(rel: String, cols: Seq[String]): DataFrame = {
      val raw = spark.read.parquet(s"$path/$rel")
      (candBuckets match {
        // A saturated bucket set (broad batches hit every bucket) reads
        // everything anyway — skip the useless filter. Pruning exists
        // for the hit-sparse regime (trickle batches, targeted checks),
        // where a handful of buckets carry every candidate id.
        case Some(bks) if raw.columns.contains("idb") &&
            bks.size < layout.get =>
          raw.filter(col("idb").isin(bks: _*))
        case _ => raw
      }).select(cols.map(col): _*)
    }
    val allSh = pruned("shingles", Seq("id", "s")).unionAll(newSh)
      .join(candIds, Seq("id"), "left_semi")
    val counts = pruned("counts", Seq("id", "n_sh"))
      .unionAll(newSh.groupBy(col("id")).agg(count(lit(1)).as("n_sh")))
    val refined = Dedup.refineJaccardCounted(candidates, allSh, counts, threshold)
    if (!alsoAppend) refined
    else {
      // Materialize the probe BEFORE the store grows (the lazy stored
      // reads above would otherwise see the batch's own appended rows),
      // then append the already-computed relations: no second shingle
      // or minhash pass over the batch. Same meta-vs-disk agreement
      // check as [[append]]: a flat append into a meta-less bucketed
      // store (crashed migration) would corrupt partition discovery.
      if (layout.isEmpty)
        require(!hasPartitionDirs(spark, s"$path/shingles", "idb"),
          s"$path/shingles is idb-bucketed on disk but the layout meta " +
            "is missing (crashed migration?) — run recover() then " +
            "compact() before appending")
      val res = refined.localCheckpoint(true)
      newBands.write.mode("append").partitionBy("band").parquet(s"$path/bands")
      val newCounts = newSh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
      layout match {
        case Some(b) =>
          writeIdBucketed(newSh, b, s"$path/shingles", "append")
          writeIdBucketed(newCounts, b, s"$path/counts", "append")
        case None =>
          newSh.write.mode("append").parquet(s"$path/shingles")
          newCounts.write.mode("append").parquet(s"$path/counts")
      }
      // res' eager checkpoint truncated lineage above everything here —
      // free the intermediates the caller's sweep could never reach.
      org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(newBands)
      org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(newSh)
      org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(candidates)
      res
    }
  }
}
