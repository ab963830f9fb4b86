package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, DedupStore}

/** Persisted near-duplicate index: an incremental probe of a NEW batch
  * against stored bands+shingles must equal the batch operator run on
  * the full union, restricted to pairs that touch the new batch — the
  * determinism-across-batches property the store's hash family
  * guarantees. Plus the append lifecycle: two increments == one save.
  */
class DedupStoreSpec extends SparkSpec {

  private val (n, bands, rpb, thr) = (3, 16, 4, 0.5)

  private def docs = Tables.documents(spark, Sf001)
    .select(col("doc_id"), col("text"))

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("searchNew == batch operator on the union, restricted to new-touching pairs") {
    val dir = Files.createTempDirectory("graft_dedup_store").toString
    val old = docs.filter(col("doc_id") < 300)
    val fresh = docs.filter(col("doc_id") >= 300)
    DedupStore.save(old, "doc_id", "text", n, bands, rpb, s"$dir/ix")
    val got = pairs(DedupStore.searchNew(
      spark, s"$dir/ix", fresh, "doc_id", "text", n, bands, rpb, thr))
    val full = pairs(Dedup.minhashLshPairs(docs, "doc_id", "text", n, bands, rpb, thr))
    val expected = full.filter { case (a, b, _) => a >= 300 || b >= 300 }
    assert(got == expected,
      s"got ${got.size} pairs vs expected ${expected.size}; " +
        s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    // And it must include cross-batch pairs (old x new), or the test
    // corpus split proves nothing.
    assert(expected.exists { case (a, b, _) => a < 300 && b >= 300 },
      "sf0.001 split yields no cross-batch near-dups; pick another split")
  }

  test("id-bucketed store: probe == batch operator on the union; pruning reaches the scan; append/remove/compact keep both") {
    // Fixture stores are far below the production size gate — force the
    // pruned path so the partition-filter pin means something.
    val prune = graft.dedup.SpanStore.PruneMinStoreBytes
    graft.dedup.SpanStore.PruneMinStoreBytes = 0L
    try bucketedScenario()
    finally graft.dedup.SpanStore.PruneMinStoreBytes = prune
  }

  /** The batch operator on `union`, restricted to pairs touching an id
    * at or above `cut` — what a probe of the ids >= cut must return.
    */
  private def unionPairs(union: org.apache.spark.sql.DataFrame, cut: Long) =
    pairs(Dedup.minhashLshPairs(union, "doc_id", "text", n, bands, rpb, thr))
      .filter { case (a, b, _) => a >= cut || b >= cut }

  private def bucketedScenario(): Unit = {
    val dir = Files.createTempDirectory("graft_dedup_layout").toString
    val old = docs.filter(col("doc_id") < 300)
    val fresh = docs.filter(col("doc_id") >= 300)
    DedupStore.save(old, "doc_id", "text", n, bands, rpb, s"$dir/ix")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/ix/layout")), "store lacks its layout meta")
    def probe(batch: org.apache.spark.sql.DataFrame) = DedupStore.searchNew(
      spark, s"$dir/ix", batch, "doc_id", "text", n, bands, rpb, thr)
    val want = unionPairs(docs, 300)
    assert(pairs(probe(fresh)) == want, "bucketed probe diverged from the batch operator")
    assert(want.nonEmpty, "probe found nothing; fixture too weak")
    // The candidate-bucket restriction really reaches the stored scans
    // as a planning-time partition filter.
    // Inspect the pre-execution physical plan (post-execution, AQE
    // folds scans into materialized leaf stages collect cannot enter).
    val plan = probe(fresh).queryExecution.sparkPlan
    val shingleScans = plan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata("Location").contains("/ix/shingles") => f
    }
    assert(shingleScans.nonEmpty, "no stored shingle scan in the probe plan")
    assert(shingleScans.forall(_.metadata("PartitionFilters").contains("idb")),
      s"stored shingle scan carries no idb partition filter: " +
        shingleScans.map(_.metadata("PartitionFilters")).mkString(" | "))
    // compact keeps the probe; append and remove keep the layout.
    DedupStore.compact(spark, s"$dir/ix")
    assert(pairs(probe(fresh)) == want, "probe diverged across compact")
    val mid = docs.filter(col("doc_id") >= 300 && col("doc_id") < 350)
    DedupStore.append(mid, "doc_id", "text", n, bands, rpb, s"$dir/ix")
    val gone = mid.select(col("doc_id")).orderBy(col("doc_id")).limit(3)
      .collect().map(_.getLong(0)).toSeq
    import spark.implicits._
    DedupStore.remove(spark, s"$dir/ix", gone.toDF("doc_id"))
    val later = docs.filter(col("doc_id") >= 350)
    val union = docs.filter(!col("doc_id").isin(gone: _*))
    assert(pairs(probe(later)) == unionPairs(union, 350),
      "append/remove diverged from the batch operator on the union")
    assert(spark.read.parquet(s"$dir/ix/shingles").columns.contains("idb"),
      "append/remove wrote the shingles unbucketed")
  }

  test("searchNewAndAppend == searchNew then append: same probe, same store, leak-neutral") {
    val a = Files.createTempDirectory("graft_dedup_fuse_a").toString
    val b = Files.createTempDirectory("graft_dedup_fuse_b").toString
    val old = docs.filter(col("doc_id") < 200)
    val mid = docs.filter(col("doc_id") >= 200 && col("doc_id") < 350)
    val fresh = docs.filter(col("doc_id") >= 350)
    DedupStore.save(old, "doc_id", "text", n, bands, rpb, s"$a/ix")
    DedupStore.save(old, "doc_id", "text", n, bands, rpb, s"$b/ix")
    // A: the two-call spelling. B: the fused spelling.
    val probeA = pairs(DedupStore.searchNew(
      spark, s"$a/ix", mid, "doc_id", "text", n, bands, rpb, thr))
    DedupStore.append(mid, "doc_id", "text", n, bands, rpb, s"$a/ix")
    val before = RddScope.persisted(spark)
    val fused = DedupStore.searchNewAndAppend(
      spark, s"$b/ix", mid, "doc_id", "text", n, bands, rpb, thr)
    val probeB = pairs(fused)
    val keep = org.apache.spark.sql.graft.GraftInternals.checkpointRddIds(fused)
    assert((RddScope.persisted(spark) -- before -- keep).isEmpty,
      "searchNewAndAppend left unreachable persisted RDDs")
    org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(fused)
    assert(probeB == probeA, "fused probe diverged from the two-call probe")
    // The stores must now be indistinguishable: a LATER batch probes
    // identically against both.
    val nextA = pairs(DedupStore.searchNew(
      spark, s"$a/ix", fresh, "doc_id", "text", n, bands, rpb, thr))
    val nextB = pairs(DedupStore.searchNew(
      spark, s"$b/ix", fresh, "doc_id", "text", n, bands, rpb, thr))
    assert(nextB == nextA, "fused append left a different store state")
    assert(nextA.nonEmpty, "follow-up probe found nothing; fixture too weak")
  }

  test("searchNew is leak-neutral (QueriesSpec contract for store probes)") {
    val dir = Files.createTempDirectory("graft_dedup_leak").toString
    DedupStore.save(docs.filter(col("doc_id") < 300),
      "doc_id", "text", n, bands, rpb, s"$dir/ix")
    val before = RddScope.persisted(spark)
    val df = DedupStore.searchNew(spark, s"$dir/ix",
      docs.filter(col("doc_id") >= 300), "doc_id", "text", n, bands, rpb, thr)
    assert(df.count() >= 0)
    // Only checkpoint backings REACHABLE from the result plan may remain
    // (the caller frees those via the standard sweep). An intermediate
    // checkpoint orphaned by a later lineage truncation fails here — the
    // round-10 n13 leak class.
    val keep = org.apache.spark.sql.graft.GraftInternals.checkpointRddIds(df)
    val leaked = RddScope.persisted(spark) -- before -- keep
    assert(leaked.isEmpty,
      s"searchNew left persisted RDDs $leaked unreachable from its result")
    org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(df)
  }

  test("compact: searchNew results unchanged, file splatter collapsed") {
    val dir = Files.createTempDirectory("graft_dedup_compact").toString
    // Build a deliberately fragmented store: one save + three appends,
    // each leaving its own file set in every relation.
    val chunks = Seq(
      docs.filter(col("doc_id") < 150),
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 300),
      docs.filter(col("doc_id") >= 300 && col("doc_id") < 400),
      docs.filter(col("doc_id") >= 400 && col("doc_id") < 450))
    DedupStore.save(chunks.head, "doc_id", "text", n, bands, rpb, s"$dir/ix")
    chunks.tail.foreach(c =>
      DedupStore.append(c, "doc_id", "text", n, bands, rpb, s"$dir/ix"))
    val probe = docs.filter(col("doc_id") >= 450)
    val beforePairs = pairs(DedupStore.searchNew(
      spark, s"$dir/ix", probe, "doc_id", "text", n, bands, rpb, thr))
    def parquetFiles(p: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(p)).count(_.getName.endsWith(".parquet"))
    }
    val filesBefore = Seq("bands", "shingles", "counts")
      .map(r => parquetFiles(s"$dir/ix/$r")).sum
    DedupStore.compact(spark, s"$dir/ix")
    val filesAfter = Seq("bands", "shingles", "counts")
      .map(r => parquetFiles(s"$dir/ix/$r")).sum
    assert(filesAfter < filesBefore,
      s"compaction did not reduce files: $filesBefore -> $filesAfter")
    // The store holds the same rows, so the probe is value-identical.
    val afterPairs = pairs(DedupStore.searchNew(
      spark, s"$dir/ix", probe, "doc_id", "text", n, bands, rpb, thr))
    assert(afterPairs == beforePairs,
      s"probe changed across compact: missing=${(beforePairs -- afterPairs).take(3)} " +
        s"extra=${(afterPairs -- beforePairs).take(3)}")
    // And the compacted store still appends cleanly (the lifecycle is
    // save/append* -> compact -> append* ...).
    DedupStore.append(probe, "doc_id", "text", n, bands, rpb, s"$dir/ix")
    val full = pairs(Dedup.minhashLshPairs(docs, "doc_id", "text", n, bands, rpb, thr))
    val afterAppend = pairs(DedupStore.searchNew(
      spark, s"$dir/ix", docs.filter(col("doc_id") >= 500),
      "doc_id", "text", n, bands, rpb, thr))
    val expected = full.filter { case (a, b, _) => a >= 500 || b >= 500 }
    assert(afterAppend == expected,
      s"post-compact append diverged: missing=${(expected -- afterAppend).take(3)} " +
        s"extra=${(afterAppend -- expected).take(3)}")
  }

  test("compact: swap is rename-aside — a stale .old from a crashed run is cleaned, never read") {
    // The swap order is live -> <rel>.old, tmp -> live, delete .old: a
    // crash anywhere leaves either live or its .old copy on disk (never
    // a hole), and the worst case recovers by renaming .old back. This
    // pins the re-entry half of that contract: a leftover .old directory
    // (simulating a crash between the two renames of a prior compact)
    // must neither fail the next compact nor leak into probe results.
    val dir = Files.createTempDirectory("graft_dedup_oldswap").toString
    DedupStore.save(docs.filter(col("doc_id") < 300),
      "doc_id", "text", n, bands, rpb, s"$dir/ix")
    val probe = docs.filter(col("doc_id") >= 450)
    val before = pairs(DedupStore.searchNew(
      spark, s"$dir/ix", probe, "doc_id", "text", n, bands, rpb, thr))
    // Simulate the crash residue: a full stale copy of every relation.
    val fs = new org.apache.hadoop.fs.Path(s"$dir/ix")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("bands", "shingles", "counts").foreach { rel =>
      org.apache.hadoop.fs.FileUtil.copy(
        fs, new org.apache.hadoop.fs.Path(s"$dir/ix/$rel"),
        fs, new org.apache.hadoop.fs.Path(s"$dir/ix/$rel.old"),
        false, spark.sparkContext.hadoopConfiguration)
    }
    DedupStore.compact(spark, s"$dir/ix")
    Seq("bands", "shingles", "counts").foreach { rel =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/ix/$rel.old")),
        s"$rel.old survived compact")
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/ix/$rel")),
        s"$rel missing after compact")
    }
    val after = pairs(DedupStore.searchNew(
      spark, s"$dir/ix", probe, "doc_id", "text", n, bands, rpb, thr))
    assert(after == before, "probe changed across .old-residue compact")
  }

  test("append lifecycle: save(old) + append(new) == save(all)") {
    val dir = Files.createTempDirectory("graft_dedup_append").toString
    val old = docs.filter(col("doc_id") < 300)
    val fresh = docs.filter(col("doc_id") >= 300)
    DedupStore.save(old, "doc_id", "text", n, bands, rpb, s"$dir/inc")
    DedupStore.append(fresh, "doc_id", "text", n, bands, rpb, s"$dir/inc")
    DedupStore.save(docs, "doc_id", "text", n, bands, rpb, s"$dir/full")
    def rel(p: String) = spark.read.parquet(p)
      .collect().map(_.toSeq).toSet
    assert(rel(s"$dir/inc/bands") == rel(s"$dir/full/bands"))
    assert(rel(s"$dir/inc/shingles") == rel(s"$dir/full/shingles"))
    // Per-batch count rows union to the full corpus counts because ids
    // never repeat across batches (the caller contract).
    assert(rel(s"$dir/inc/counts") == rel(s"$dir/full/counts"))
  }

  test("remove: probes behave as if the removed docs had never been saved") {
    // The takedown contract: remove ids, then every subsequent probe
    // equals one against a from-scratch store built WITHOUT those docs.
    val dir = Files.createTempDirectory("graft_dedup_remove").toString
    val stored = docs.filter(col("doc_id") < 400)
    val probe = docs.filter(col("doc_id") >= 400)
    // Pick removed ids that actually pair with the probe batch, so the
    // removal is guaranteed to CHANGE probe results (a removal the test
    // can't observe would prove nothing).
    val full = pairs(Dedup.minhashLshPairs(docs, "doc_id", "text", n, bands, rpb, thr))
    val crossIds = full.collect {
      case (a, b, _) if a < 400 && b >= 400 => a
    }
    assert(crossIds.nonEmpty, "no stored-vs-probe pairs at this split; pick another")
    val removedIds = crossIds.toSeq.sorted.take(2)
    import spark.implicits._
    // Two increments, then remove across BOTH (takedown ids don't align
    // with increment boundaries).
    DedupStore.save(stored.filter(col("doc_id") < 200),
      "doc_id", "text", n, bands, rpb, s"$dir/ix")
    DedupStore.append(stored.filter(col("doc_id") >= 200),
      "doc_id", "text", n, bands, rpb, s"$dir/ix")
    DedupStore.remove(spark, s"$dir/ix", removedIds.toDF("doc_id"))
    val got = pairs(DedupStore.searchNew(
      spark, s"$dir/ix", probe, "doc_id", "text", n, bands, rpb, thr))
    val ref = Files.createTempDirectory("graft_dedup_remove_ref").toString
    DedupStore.save(stored.filter(!col("doc_id").isin(removedIds: _*)),
      "doc_id", "text", n, bands, rpb, s"$ref/ix")
    val want = pairs(DedupStore.searchNew(
      spark, s"$ref/ix", probe, "doc_id", "text", n, bands, rpb, thr))
    assert(got == want,
      s"post-remove probe diverged from never-saved store: " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    assert(!got.exists { case (a, b, _) =>
      removedIds.contains(a) || removedIds.contains(b) },
      "removed ids still appear in probe results")
    // The removal observably changed the probe (fixture sanity).
    val withThem = full.filter { case (a, b, _) => a >= 400 || b >= 400 }
    assert(got != withThem, "removal had no observable effect; fixture too weak")
    // And the rows are physically gone from all three relations.
    Seq("bands", "shingles", "counts").foreach { rel =>
      val left = spark.read.parquet(s"$dir/ix/$rel")
        .filter(col("id").isin(removedIds: _*)).count()
      assert(left == 0, s"$left removed-doc rows survived in $rel")
    }
  }

  test("stagedWrite retries once on a denied task commit, clearing the " +
      "staged dir; other failures propagate") {
    // The r18 driver-run VERIFY failure class: a compact's staging write
    // died on OutputCommitCoordinator denying a task commit (wrapped as
    // TASK_WRITE_FAILED, so under local mode's maxTaskFailures=1 one
    // transient denial aborts the job). stagedWrite's contract: the
    // staged dir is private until the swap, so on a denial-shaped
    // failure it deletes the dir and re-runs the write ONCE.
    val dir = Files.createTempDirectory("graft_staged_retry").toString
    val dest = s"$dir/stage"
    var calls = 0
    DedupStore.stagedWrite(spark, dest) {
      calls += 1
      if (calls == 1) {
        // Simulate a half-written staging dir + the denial shape Spark
        // surfaces (SparkException wrapping CommitDeniedException).
        spark.range(3).write.parquet(dest)
        throw new org.apache.spark.SparkException(
          "Task failed while writing rows",
          new RuntimeException(
            "attempt_x: Not committed because the driver did not authorize commit"))
      }
      spark.range(5).write.parquet(dest) // must land in a CLEAN dir
    }
    assert(calls == 2, s"expected one retry, saw $calls call(s)")
    assert(spark.read.parquet(dest).count() == 5,
      "retry did not clear the half-written staged dir before re-running")
    // Non-denial failures propagate unchanged, no retry.
    var calls2 = 0
    val boom = intercept[RuntimeException] {
      DedupStore.stagedWrite(spark, s"$dir/other") {
        calls2 += 1
        throw new RuntimeException("disk on fire")
      }
    }
    assert(boom.getMessage == "disk on fire" && calls2 == 1)
  }
}
