package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, SpanStore}

/** Persisted repeated-span (ExactSubstr) index: an incremental probe of
  * a NEW batch against the stored anchor-gram relation must equal the
  * batch span operator run on the full union, restricted to pairs that
  * touch the new batch — the DedupStore determinism-across-batches
  * contract, span edition. Plus the append lifecycle: increments
  * compose, and the probe never self-joins the stored corpus.
  */
class SpanStoreSpec extends SparkSpec {

  private val L = 6

  private def docs = Tables.documents(spark, Sf001)
    .select(col("doc_id"), col("text"))

  private def spans(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet

  test("searchNew == batch spanDedup on the union, restricted to new-touching pairs") {
    val dir = Files.createTempDirectory("graft_span_store").toString
    val old = docs.filter(col("doc_id") < 300)
    val fresh = docs.filter(col("doc_id") >= 300)
    SpanStore.save(old, "doc_id", "text", L, s"$dir/ix")
    val got = spans(SpanStore.searchNew(
      spark, s"$dir/ix", fresh, "doc_id", "text", L))
    val full = spans(Dedup.spanDedup(docs, "doc_id", "text", L))
    val expected = full.filter { case (a, b, _, _, _) => a >= 300 || b >= 300 }
    assert(got == expected,
      s"got ${got.size} spans vs expected ${expected.size}; " +
        s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    // The split must exercise BOTH probe arms: stored×new spans and
    // within-batch spans, or the equality proves nothing.
    assert(expected.exists { case (a, b, _, _, _) => a < 300 && b >= 300 },
      "sf0.001 split yields no stored-vs-new spans; pick another split")
    assert(expected.exists { case (a, b, _, _, _) => a >= 300 && b >= 300 },
      "sf0.001 split yields no within-batch spans; pick another split")
  }

  test("append lifecycle: save + append == one save; post-append probe still union-exact") {
    val dir = Files.createTempDirectory("graft_span_append").toString
    SpanStore.save(docs.filter(col("doc_id") < 150), "doc_id", "text", L, s"$dir/ix")
    SpanStore.append(docs.filter(col("doc_id") >= 150 && col("doc_id") < 300),
      "doc_id", "text", L, s"$dir/ix")
    val got = spans(SpanStore.searchNew(
      spark, s"$dir/ix", docs.filter(col("doc_id") >= 300), "doc_id", "text", L))
    val full = spans(Dedup.spanDedup(docs, "doc_id", "text", L))
    val expected = full.filter { case (a, b, _, _, _) => a >= 300 || b >= 300 }
    assert(got == expected,
      s"two-increment store diverged: missing=${(expected -- got).take(3)} " +
        s"extra=${(got -- expected).take(3)}")
  }

  test("searchNew is leak-neutral (QueriesSpec contract for store probes)") {
    val dir = Files.createTempDirectory("graft_span_leak").toString
    SpanStore.save(docs.filter(col("doc_id") < 300), "doc_id", "text", L, s"$dir/ix")
    val before = RddScope.persisted(spark)
    val df = SpanStore.searchNew(
      spark, s"$dir/ix", docs.filter(col("doc_id") >= 300), "doc_id", "text", L)
    assert(df.count() >= 0)
    val keep = org.apache.spark.sql.graft.GraftInternals.checkpointRddIds(df)
    val leaked = RddScope.persisted(spark) -- before -- keep
    assert(leaked.isEmpty,
      s"searchNew left persisted RDDs $leaked unreachable from its result")
    org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(df)
  }

  test("compact: probe results unchanged, file splatter collapsed, appends still compose") {
    val dir = Files.createTempDirectory("graft_span_compact").toString
    val chunks = Seq(
      docs.filter(col("doc_id") < 100),
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 200),
      docs.filter(col("doc_id") >= 200 && col("doc_id") < 300))
    SpanStore.save(chunks.head, "doc_id", "text", L, s"$dir/ix")
    chunks.tail.foreach(c => SpanStore.append(c, "doc_id", "text", L, s"$dir/ix"))
    val probe = docs.filter(col("doc_id") >= 300)
    val before = spans(SpanStore.searchNew(
      spark, s"$dir/ix", probe, "doc_id", "text", L))
    def parquetFiles(p: String): Int = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(p)).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
    }
    val filesBefore = parquetFiles(s"$dir/ix/grams")
    SpanStore.compact(spark, s"$dir/ix", files = 2)
    val filesAfter = parquetFiles(s"$dir/ix/grams")
    // One file per gram bucket (the `files` knob sizes the unbucketed
    // gramdf relation only).
    assert(filesAfter <= 32 && filesAfter < filesBefore,
      s"compaction did not collapse files: $filesBefore -> $filesAfter")
    val after = spans(SpanStore.searchNew(
      spark, s"$dir/ix", probe, "doc_id", "text", L))
    assert(after == before,
      s"probe changed across compact: missing=${(before -- after).take(3)} " +
        s"extra=${(after -- before).take(3)}")
    // The compacted store still appends cleanly (save/append* -> compact
    // -> append* ...): after adding the probe batch, a later batch's
    // probe equals the batch operator on everything.
    SpanStore.append(probe.filter(col("doc_id") < 400), "doc_id", "text", L, s"$dir/ix")
    val got = spans(SpanStore.searchNew(
      spark, s"$dir/ix", docs.filter(col("doc_id") >= 400), "doc_id", "text", L))
    val full = spans(Dedup.spanDedup(docs, "doc_id", "text", L))
    val expected = full.filter { case (a, b, _, _, _) => a >= 400 || b >= 400 }
    assert(got == expected,
      s"post-compact append diverged: missing=${(expected -- got).take(3)} " +
        s"extra=${(got -- expected).take(3)}")
  }

  test("compact: a stale grams.old from a crashed run is cleaned, never read") {
    // Re-entry half of the rename-aside contract (the DedupStore pin,
    // span edition): a leftover grams.old must neither fail the next
    // compact nor leak into probe results.
    val dir = Files.createTempDirectory("graft_span_oldswap").toString
    SpanStore.save(docs.filter(col("doc_id") < 300), "doc_id", "text", L, s"$dir/ix")
    val probe = docs.filter(col("doc_id") >= 300)
    val before = spans(SpanStore.searchNew(
      spark, s"$dir/ix", probe, "doc_id", "text", L))
    val stale = java.nio.file.Paths.get(s"$dir/ix/grams.old")
    java.nio.file.Files.createDirectories(stale)
    java.nio.file.Files.write(stale.resolve("junk.txt"), "junk".getBytes)
    SpanStore.compact(spark, s"$dir/ix")
    assert(!java.nio.file.Files.exists(stale), "stale grams.old survived the next compact")
    val after = spans(SpanStore.searchNew(
      spark, s"$dir/ix", probe, "doc_id", "text", L))
    assert(after == before, "stale .old leaked into probe results")
  }

  test("remove: probes behave as if the removed docs had never been saved") {
    // Takedown, span edition: after remove(ids), searchNew equals a
    // probe of a from-scratch store built WITHOUT those docs.
    val dir = Files.createTempDirectory("graft_span_remove").toString
    val stored = docs.filter(col("doc_id") < 300)
    val probe = docs.filter(col("doc_id") >= 300)
    // Removed ids that share spans with the probe batch, so the removal
    // observably changes results.
    val full = spans(Dedup.spanDedup(docs, "doc_id", "text", L))
    val crossIds = full.collect {
      case (a, b, _, _, _) if a < 300 && b >= 300 => a
    }
    assert(crossIds.nonEmpty, "no stored-vs-probe spans at this split; pick another")
    val removedIds = crossIds.toSeq.sorted.take(2)
    import spark.implicits._
    SpanStore.save(stored.filter(col("doc_id") < 150), "doc_id", "text", L, s"$dir/ix")
    SpanStore.append(stored.filter(col("doc_id") >= 150), "doc_id", "text", L, s"$dir/ix")
    SpanStore.remove(spark, s"$dir/ix", removedIds.toDF("doc_id"))
    val got = spans(SpanStore.searchNew(
      spark, s"$dir/ix", probe, "doc_id", "text", L))
    val ref = Files.createTempDirectory("graft_span_remove_ref").toString
    SpanStore.save(stored.filter(!col("doc_id").isin(removedIds: _*)),
      "doc_id", "text", L, s"$ref/ix")
    val want = spans(SpanStore.searchNew(
      spark, s"$ref/ix", probe, "doc_id", "text", L))
    assert(got == want,
      s"post-remove probe diverged from never-saved store: " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    assert(!got.exists { case (a, b, _, _, _) =>
      removedIds.contains(a) || removedIds.contains(b) },
      "removed ids still appear in probe spans")
    val withThem = full.filter { case (a, b, _, _, _) => a >= 300 || b >= 300 }
    assert(got != withThem, "removal had no observable effect; fixture too weak")
    assert(spark.read.parquet(s"$dir/ix/grams")
      .filter(col("id").isin(removedIds: _*)).count() == 0,
      "removed-doc gram rows survived")
  }

  test("searchNewAndAppend == searchNew then append: same spans, same store, capped probes agree") {
    val a = Files.createTempDirectory("graft_span_fuse_a").toString
    val b = Files.createTempDirectory("graft_span_fuse_b").toString
    val old = docs.filter(col("doc_id") < 200)
    val mid = docs.filter(col("doc_id") >= 200 && col("doc_id") < 350)
    val fresh = docs.filter(col("doc_id") >= 350)
    SpanStore.save(old, "doc_id", "text", L, s"$a/ix")
    SpanStore.save(old, "doc_id", "text", L, s"$b/ix")
    val probeA = spans(SpanStore.searchNew(
      spark, s"$a/ix", mid, "doc_id", "text", L))
    SpanStore.append(mid, "doc_id", "text", L, s"$a/ix")
    val before = RddScope.persisted(spark)
    val fused = SpanStore.searchNewAndAppend(
      spark, s"$b/ix", mid, "doc_id", "text", L)
    val probeB = spans(fused)
    val keep = org.apache.spark.sql.graft.GraftInternals.checkpointRddIds(fused)
    assert((RddScope.persisted(spark) -- before -- keep).isEmpty,
      "searchNewAndAppend left unreachable persisted RDDs")
    org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(fused)
    assert(probeB == probeA, "fused probe diverged from the two-call probe")
    // Store state indistinguishable: a later batch probes identically,
    // both uncapped AND capped (the capped probe also exercises the
    // fused path's gramdf partials).
    def probe(dir: String, cap: Int) = {
      val df = SpanStore.searchNew(
        spark, s"$dir/ix", fresh, "doc_id", "text", L, maxDf = cap)
      val r = spans(df)
      org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(df)
      r
    }
    assert(probe(b, Int.MaxValue) == probe(a, Int.MaxValue),
      "fused append left a different gram store")
    assert(probe(b, 2) == probe(a, 2),
      "fused append left different gramdf partials (capped probes diverged)")
    assert(probe(a, Int.MaxValue).nonEmpty, "follow-up probe found nothing; fixture too weak")
  }

  test("capped searchNew == capped batch spanDedup on the union, new-touching slice (real corpus)") {
    // The stop-gram cap's incremental contract on real data: union df =
    // stored gramdf partial sums + batch df, so a capped probe must
    // equal the capped batch operator — and the cap must actually bite
    // here, or the equality proves nothing.
    val dir = Files.createTempDirectory("graft_span_cap").toString
    val maxDf = 2
    SpanStore.save(docs.filter(col("doc_id") < 300), "doc_id", "text", L, s"$dir/ix")
    val probe = SpanStore.searchNew(
      spark, s"$dir/ix", docs.filter(col("doc_id") >= 300), "doc_id", "text",
      L, maxDf = maxDf)
    val got = spans(probe)
    org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(probe)
    val capped = spans(Dedup.spanDedup(docs, "doc_id", "text", L, maxDf = maxDf))
    val want = capped.filter { case (a, b, _, _, _) => a >= 300 || b >= 300 }
    assert(got == want,
      s"capped probe diverged: missing=${(want -- got).take(3)} " +
        s"extra=${(got -- want).take(3)}")
    val uncapped = spans(Dedup.spanDedup(docs, "doc_id", "text", L))
      .filter { case (a, b, _, _, _) => a >= 300 || b >= 300 }
    assert(want != uncapped,
      s"maxDf=$maxDf did not bite on this corpus; fixture too weak")
  }

  test("gram-bucketed store: probe == batch spanDedup on the union; pruning reaches the scan; append/remove/compact keep both") {
    // Fixture stores are far below the production size gate — force the
    // pruned path so the partition-filter pin means something.
    val prune = SpanStore.PruneMinStoreBytes
    SpanStore.PruneMinStoreBytes = 0L
    try bucketedScenario()
    finally SpanStore.PruneMinStoreBytes = prune
  }

  /** Batch spanDedup (capped at `maxDf`) on `union`, restricted to pairs
    * touching an id at or above `cut` — what a probe of the ids >= cut
    * must return.
    */
  private def unionSpans(
      union: org.apache.spark.sql.DataFrame, cut: Long, maxDf: Int = Int.MaxValue) =
    spans(Dedup.spanDedup(union, "doc_id", "text", L, maxDf = maxDf))
      .filter { case (a, b, _, _, _) => a >= cut || b >= cut }

  private def bucketedScenario(): Unit = {
    val dir = Files.createTempDirectory("graft_span_layout").toString
    val old = docs.filter(col("doc_id") < 300)
    val fresh = docs.filter(col("doc_id") >= 300)
    SpanStore.save(old, "doc_id", "text", L, s"$dir/ix")
    Seq("layout", "gramidx").foreach(f => assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/ix/$f")), s"store lacks its $f"))
    def probe(batch: org.apache.spark.sql.DataFrame, maxDf: Int = Int.MaxValue) =
      spans(SpanStore.searchNew(spark, s"$dir/ix", batch, "doc_id", "text", L, maxDf))
    val want = unionSpans(docs, 300)
    assert(probe(fresh) == want, "bucketed probe diverged from batch spanDedup")
    assert(want.nonEmpty, "probe found nothing; fixture too weak")
    // The intersection-bucket restriction reaches the stored pos-level
    // scan as a planning-time partition filter. The broad `fresh` probe
    // above shares grams across every bucket (the adaptive skip
    // correctly reads everything); a NARROW probe — one doc carrying a
    // 12-token slice of a stored doc, so the intersection is ~7 anchor
    // grams — is where pruning exists, and must fire.
    import spark.implicits._
    val srcToks = old.select(graft.text.TextFns.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 20).limit(1)
      .collect()(0).getSeq[String](0)
    val narrow = Seq((9000L,
      "zqa zqb zqc " + srcToks.take(12).mkString(" ") + " zqx zqy zqz"))
      .toDF("doc_id", "text")
    val narrowProbe = SpanStore.searchNew(
      spark, s"$dir/ix", narrow, "doc_id", "text", L)
    val gramScans = narrowProbe.queryExecution.sparkPlan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata("Location").contains("/ix/grams") => f
    }
    assert(gramScans.nonEmpty, "no stored gram scan in the probe plan")
    assert(gramScans.forall(_.metadata("PartitionFilters").contains("gb")),
      s"stored gram scan carries no gb partition filter: " +
        gramScans.map(_.metadata("PartitionFilters")).mkString(" | "))
    // ...and the pruned narrow probe still equals the batch operator.
    val narrowGot = spans(narrowProbe)
    assert(narrowGot == unionSpans(old.unionByName(narrow), 9000L),
      "pruned narrow probe diverged from batch spanDedup")
    assert(narrowGot.nonEmpty,
      "narrow probe found no spans; the pruning assert proved nothing")
    // compact keeps the probe; append and remove keep the layout; the
    // capped probe agrees with the capped batch operator.
    SpanStore.compact(spark, s"$dir/ix")
    assert(probe(fresh) == want, "probe diverged across compact")
    val mid = docs.filter(col("doc_id") >= 300 && col("doc_id") < 350)
    SpanStore.append(mid, "doc_id", "text", L, s"$dir/ix")
    val gone = mid.select(col("doc_id")).orderBy(col("doc_id")).limit(3)
      .collect().map(_.getLong(0)).toSeq
    SpanStore.remove(spark, s"$dir/ix", gone.toDF("doc_id"))
    val later = docs.filter(col("doc_id") >= 350)
    val union = docs.filter(!col("doc_id").isin(gone: _*))
    assert(probe(later) == unionSpans(union, 350),
      "append/remove diverged from batch spanDedup on the union")
    assert(probe(later, maxDf = 3) == unionSpans(union, 350, maxDf = 3),
      "capped probe diverged from the capped batch operator on the union")
    assert(spark.read.parquet(s"$dir/ix/grams").columns.contains("gb"),
      "append/remove wrote the grams unbucketed")
  }

  test("probe plan never self-joins the stored gram relation") {
    // The asymptotic contract: the stored corpus appears only as one
    // SIDE of the new-vs-stored gram join — exactly ONE scan of the
    // stored pos-level parquet (the single oriented cross arm; the
    // mirrored second arm was an identical scan Spark could not reuse),
    // never a stored×stored join.
    val dir = Files.createTempDirectory("graft_span_plan").toString
    SpanStore.save(docs.filter(col("doc_id") < 300), "doc_id", "text", L, s"$dir/ix")
    val df = SpanStore.searchNew(
      spark, s"$dir/ix", docs.filter(col("doc_id") >= 300), "doc_id", "text", L)
    // Pre-AQE physical plan: with adaptive execution on, executedPlan is
    // an AdaptiveSparkPlanExec whose stages hide the scans from collect.
    val scans = df.queryExecution.sparkPlan.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("/ix/grams"))
        => s
    }
    assert(scans.size == 1,
      s"stored gram relation scanned ${scans.size} times (expected 1: the single oriented arm)")
    org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(df)
  }
}
