package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sim.{IndexStore, Similarity}

/** Persisted-index lifecycle: build → save → reload → search must equal
  * the in-plan IVF search exactly, and probing must prune the store at
  * the PARTITION level (planning-time directory pruning).
  */
class IndexStoreSpec extends SparkSpec {

  private def vecs = Tables.embeddings(spark, Sf001)
    .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))

  test("save -> load -> search equals in-plan IVF; probe prunes partitions") {
    val dir = Files.createTempDirectory("graft_ivf_store").toString
    IndexStore.saveIvfStatic(vecs, dims = 3, path = s"$dir/ivf")
    val queries = vecs.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val searched = IndexStore.searchIvfStatic(spark, s"$dir/ivf", queries,
      dims = 3, k = 5)
    val got = searched.collect()
    val exp = Similarity.annIvfStatic(vecs, dims = 3, k = 5)
      .filter(col("query_id") < 20).collect()
    assert(got.sameElements(exp),
      s"store search diverged: got ${got.take(3).mkString(",")} " +
        s"exp ${exp.take(3).mkString(",")}")
    // Layout contract: the store scan must carry the probe cells as a
    // PartitionFilter — pruned against the directory listing at planning
    // time, before any file opens.
    val plan = searched.queryExecution.executedPlan.toString
    assert("PartitionFilters:\\s*\\[cell#\\d+ IN ".r.findFirstIn(plan).isDefined,
      s"probe cells not pushed as a partition filter:\n${plan.take(2000)}")
  }

  test("single-cell query set reads a single partition directory") {
    val dir = Files.createTempDirectory("graft_ivf_one").toString
    import spark.implicits._
    val vs = Seq(
      (1L, Seq(1.0, 1.0, 1.0)), (2L, Seq(1.0, 2.0, 1.0)),
      (3L, Seq(-1.0, 1.0, 1.0)), (4L, Seq(1.0, 1.0, -2.0)))
      .toDF("vec_id", "v")
    IndexStore.saveIvfStatic(vs, dims = 3, path = s"$dir/ivf")
    val q = Seq((10L, Seq(2.0, 1.0, 1.0))).toDF("query_id", "qv")
    val res = IndexStore.searchIvfStatic(spark, s"$dir/ivf", q, dims = 3, k = 2)
    val rows = res.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // Query cell = (+,+,+) = 7 → candidates {1, 2} only; 3 and 4 live in
    // other cells and are never read.
    assert(rows.map(_._2).toSet == Set(1L, 2L), rows.mkString(","))
  }

  test("dedupNew flags arriving near-dups vs stored + earlier-batch; probe prunes; append completes") {
    val dir = Files.createTempDirectory("graft_ivf_dedupnew").toString
    val eps = 0.35
    val dims = 3
    val old = vecs.filter(col("vec_id") < 300)
    val batch = vecs.filter(col("vec_id") >= 300)
    IndexStore.saveIvfStatic(old, dims = dims, path = s"$dir/ivf")
    val out = IndexStore.dedupNewIvfStatic(spark, s"$dir/ivf", batch,
      dims = dims, eps = eps)
    val got = out.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2),
        r.getBoolean(4))).toSeq
    // Reference: recompute the decision directly on (stored ∪ batch) —
    // a batch vector's qualifying neighbors are same-cell stored members
    // plus same-cell SMALLER-id batch members at >= eps.
    val cell = (0 until dims).map { j =>
      when(element_at(col("v"), j + 1) >= 0, 1 << (dims - 1 - j)).otherwise(0)
    }.reduce(_ + _)
    val all = vecs.select(col("vec_id"), col("v"), cell.as("cell"))
    val nbr = all.filter(col("vec_id") >= 300)
      .join(all.select(col("cell").as("cell_b"), col("vec_id").as("nid"),
        col("v").as("nv")),
        col("cell") === col("cell_b") &&
          (col("nid") < 300 || col("nid") < col("vec_id")))
      .filter(Similarity.cosine(col("v"), col("nv")) >= eps)
      .groupBy(col("vec_id")).agg(min(col("nid")).as("dup_of"))
    val expMap = nbr.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == batch.count())
    got.foreach { case (id, dupOf, isDup) =>
      val e = expMap.get(id)
      assert(isDup == e.isDefined, s"vec $id flag mismatch (exp $e)")
      assert(e.getOrElse(-1L) == dupOf, s"vec $id dup_of $dupOf != exp $e")
    }
    assert(got.exists(_._3) && got.exists(!_._3),
      "fixture is vacuous: need both dups and novel vectors")
    // Layout contract: the stored-corpus probe prunes at partition level.
    val plan = out.queryExecution.executedPlan.toString
    assert("PartitionFilters:\\s*\\[cell#\\d+ IN(SET)? ".r.findFirstIn(plan).isDefined,
      s"dedupNew probe not partition-pruned:\n${plan.take(2000)}")
    // Lifecycle: appending the surviving batch equals saving the union
    // of old + survivors from scratch (same rows, same layout columns).
    val survivors = batch.join(
      out.filter(col("is_dup")).select(col("vec_id")), Seq("vec_id"),
      "left_anti")
    IndexStore.appendIvfStatic(survivors, dims = dims, path = s"$dir/ivf")
    IndexStore.saveIvfStatic(old.unionAll(survivors), dims = dims,
      path = s"$dir/full")
    def rel(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(rel(s"$dir/ivf") == rel(s"$dir/full"))
  }

  private def parquetFiles(p: String): Int = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(p)).iterator().asScala
      .count(f => f.getFileName.toString.startsWith("part-") &&
        f.getFileName.toString.endsWith(".parquet"))
  }

  test("compact collapses append fragmentation; search + dedupNew row-identical across layouts") {
    val dir = Files.createTempDirectory("graft_ivf_compact").toString
    val dims = 3
    IndexStore.saveIvfStatic(vecs.filter(col("vec_id") < 200),
      dims = dims, path = s"$dir/ivf")
    // 8 increments of 25 vectors — each append leaves its own file
    // splatter per touched cell directory.
    (0 until 8).foreach { i =>
      IndexStore.appendIvfStatic(
        vecs.filter(col("vec_id") >= 200 + i * 25 && col("vec_id") < 225 + i * 25),
        dims = dims, path = s"$dir/ivf")
    }
    val queries = vecs.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val batch = vecs.filter(col("vec_id") >= 400)
    def search() = IndexStore.searchIvfStatic(
      spark, s"$dir/ivf", queries, dims = dims, k = 5).collect()
    def dedupNew() = IndexStore.dedupNewIvfStatic(
      spark, s"$dir/ivf", batch, dims = dims, eps = 0.35).collect()
    val (searchBefore, dedupBefore) = (search(), dedupNew())
    val filesBefore = parquetFiles(s"$dir/ivf")
    IndexStore.compact(spark, s"$dir/ivf")
    val filesAfter = parquetFiles(s"$dir/ivf")
    // one id-clustered file per cell directory — ≤ 2^dims total
    assert(filesAfter <= (1 << dims) && filesAfter < filesBefore,
      s"compact did not collapse the layout: $filesBefore -> $filesAfter files")
    assert(search().sameElements(searchBefore),
      "searchIvfStatic diverged across layouts")
    assert(dedupNew().sameElements(dedupBefore),
      "dedupNewIvfStatic diverged across layouts")
    // no stale staging/aside dirs survive a clean compact
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/ivf.compact.tmp")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/ivf.old")))
  }

  test("compact: a stale .old from a crashed run is cleaned, never read (rename-aside re-entry)") {
    // Swap order is live -> .old, tmp -> live, delete .old; this pins
    // the re-entry half: a leftover .old (crash between the renames of
    // a prior compact) must neither fail the next compact nor leak
    // into results — the DedupStore contract, IVF edition.
    val dir = Files.createTempDirectory("graft_ivf_oldswap").toString
    IndexStore.saveIvfStatic(vecs.filter(col("vec_id") < 300),
      dims = 3, path = s"$dir/ivf")
    val queries = vecs.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    def search() = IndexStore.searchIvfStatic(
      spark, s"$dir/ivf", queries, dims = 3, k = 5).collect()
    val before = search()
    // Simulate the crash leftover: a bogus .old next to the live store.
    val stale = java.nio.file.Paths.get(s"$dir/ivf.old/cell=0")
    java.nio.file.Files.createDirectories(stale)
    java.nio.file.Files.write(stale.resolve("junk.txt"), "junk".getBytes)
    IndexStore.compact(spark, s"$dir/ivf")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/ivf.old")),
      "stale .old survived the next compact")
    assert(search().sameElements(before), "stale .old leaked into results")
  }

  test("remove: search + dedupNew behave as if the removed vectors had never been saved") {
    // Takedown, ANN edition: after remove(ids), both probe shapes equal
    // a from-scratch store built WITHOUT those vectors.
    val dir = Files.createTempDirectory("graft_ivf_remove").toString
    IndexStore.saveIvfStatic(vecs.filter(col("vec_id") < 250), dims = 3,
      path = s"$dir/ivf")
    IndexStore.appendIvfStatic(vecs.filter(col("vec_id") >= 250), dims = 3,
      path = s"$dir/ivf")
    val queries = vecs.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    // Remove ids that RANK in the pre-removal results, so the removal
    // observably changes the top-k.
    val before = IndexStore.searchIvfStatic(spark, s"$dir/ivf", queries,
      dims = 3, k = 5).collect()
    val removedIds = before.map(_.getLong(1)).distinct.sorted.take(2).toSeq
    import spark.implicits._
    IndexStore.remove(spark, s"$dir/ivf", removedIds.toDF("vec_id"))
    val got = IndexStore.searchIvfStatic(spark, s"$dir/ivf", queries,
      dims = 3, k = 5).collect()
    val ref = Files.createTempDirectory("graft_ivf_remove_ref").toString
    IndexStore.saveIvfStatic(vecs.filter(!col("vec_id").isin(removedIds: _*)),
      dims = 3, path = s"$ref/ivf")
    val want = IndexStore.searchIvfStatic(spark, s"$ref/ivf", queries,
      dims = 3, k = 5).collect()
    assert(got.sameElements(want), "post-remove search diverged from never-saved store")
    assert(!got.sameElements(before), "removal had no observable effect; fixture too weak")
    assert(spark.read.parquet(s"$dir/ivf")
      .filter(col("vec_id").isin(removedIds: _*)).count() == 0,
      "removed vec_id rows survived")
    // dedupNew agrees too (the incremental-curation probe).
    val batch = vecs.filter(col("vec_id") >= 480)
    val gotDedup = IndexStore.dedupNewIvfStatic(spark, s"$dir/ivf", batch,
      dims = 3, eps = 0.999).collect()
    val wantDedup = IndexStore.dedupNewIvfStatic(spark, s"$ref/ivf", batch,
      dims = 3, eps = 0.999).collect()
    assert(gotDedup.sameElements(wantDedup),
      "post-remove dedupNew diverged from never-saved store")
  }
}
