package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Physical-plan shape assertions for the round-5 operators: the
  * properties that keep them viable at 100 TB (broadcasts where a side is
  * known-small, pushdown reaching the scan, bounded exchange counts) are
  * pinned here so a regression in planning — not just in results — fails
  * the suite.
  */
class PlanShapeSpec extends SparkSpec {

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def exchanges(df: DataFrame): Int =
    df.queryExecution.executedPlan
      .collectWithSubqueries { case e: ShuffleExchangeExec => e }.size

  test("q3: the filtered customer dimension joins by broadcast") {
    val plan = planOf(SparkEntry.queries("q3_shipping_priority")(spark, Sf01))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("d12: the bloom build runs as a scalar subquery, probe is a plain filter") {
    val df = SparkEntry.queries("d12_bloom_decontaminate")(spark, Sf01)
    val plan = df.queryExecution.executedPlan.toString
    // The probe side must see the bloom as a runtime constant (scalar
    // subquery), and the prefilter must be a Filter with might_contain —
    // never a join against the bloom row.
    assert(plan.contains("Subquery") && plan.contains("might_contain"),
      plan.take(2000))
  }

  test("n13: the probe list broadcasts; candidates are never shuffled for the join") {
    // `cell` has only nCells distinct values, so a shuffled cell-join
    // would collapse the candidate scan into <= nCells effective groups
    // (the r9 XL probe measured that variant at 3x BRUTE at N=24k). The
    // bounded query batch must broadcast instead — candidates stream
    // through a BroadcastHashJoin at full input parallelism.
    val plan = planOf(SparkEntry.queries("n13_ann_ivf_tuned")(spark, Sf01))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("ANN probe-broadcast gate: small batches broadcast, corpus-scale estimates do not") {
    // The broadcast above is safe ONLY under a bounded query batch; the
    // self-join usage makes queries == corpus, and at production N a
    // hinted broadcast of the vector table blows the 8 GB cap. The gate
    // reads Catalyst's size estimate: LocalRelation/Range stats let us
    // pin both regimes without materializing 512 MB.
    import spark.implicits._
    assert(graft.sim.Similarity.probeBroadcastOk(
      Seq((1L, Seq(0.1, 0.2))).toDF("vec_id", "v")))
    // range(2^27) estimates 8B/row * 128M rows = 1 GiB > the 512 MB gate.
    assert(!graft.sim.Similarity.probeBroadcastOk(
      spark.range(1L << 27).toDF("vec_id")))
  }

  test("g3: the wedge self-join keys on the salt columns, closing join hash-shuffles") {
    // The hub-split contract at plan level: the wedge self-join must key
    // on (u, bx, by) — NOT u alone — so a power-law hub's wedge pairs
    // spread over B² hash keys instead of one partition, and the closing
    // join must stay a ShuffledHashJoin (no 41M-row wedge sort).
    val plan = planOf(SparkEntry.queries("g3_triangles")(spark, Sf01))
    assert(plan.contains("bx") && plan.contains("by"), plan.take(3000))
    assert(plan.contains("ShuffledHashJoin"), plan.take(3000))
  }

  test("e16: SCD2's two window passes share one exchange+sort") {
    // lag-compare, filter, lead all run over the same (user_id | ms,
    // event_id) ordering; filter preserves partitioning and ordering, so
    // the changelog must shuffle exactly once and sort exactly once.
    val df = SparkEntry.queries("e16_scd2")(spark, Sf01)
    val physical: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // Count HASH exchanges only: the final global orderBy legitimately
    // adds a range-partitioning exchange over the (tiny) change-point set.
    val exByUser = physical.collect { case e: ShuffleExchangeExec => e }
      .count(e => e.outputPartitioning.toString.startsWith("hashpartitioning") &&
        e.outputPartitioning.toString.contains("user_id"))
    assert(exByUser == 1, s"expected 1 user_id hash exchange, got $exByUser:\n" +
      physical.toString.take(1500))
    val sorts = physical.collect {
      case s: org.apache.spark.sql.execution.SortExec => s }
    // One partial sort for the windows + the final global orderBy.
    assert(sorts.count(!_.global) == 1,
      s"expected 1 window sort, got:\n" + sorts.mkString("\n"))
  }

  test("q5: both geo dimensions join by broadcast") {
    val plan = planOf(SparkEntry.queries("q5_local_supplier")(spark, Sf01))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts >= 2, s"expected ≥2 broadcast joins, got $broadcasts")
  }

  test("q18: the >threshold order tail joins orders by broadcast") {
    // The Q18 signature: the fact self-aggregation's filtered tail (~1% of
    // orders) must come back as a BROADCAST side, not force a second fact
    // shuffle for the join.
    val df = SparkEntry.queries("q18_large_orders")(spark, Sf01)
    df.count() // let AQE finalize with runtime sizes
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("q6: shipdate/discount/quantity predicates push into the parquet scan") {
    val df = SparkEntry.queries("q6_forecast_revenue")(spark, Sf01)
    // AQE wraps the tree in AdaptiveSparkPlanExec whose children are not
    // visible to collect(); audit its current physical plan instead.
    val physical: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = physical.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    // The pushed set must include the range predicates (not just
    // IsNotNull), and pruning must reach the 4 referenced columns only.
    val pushed = scans.map(_.metadata("PushedFilters")).mkString
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate"), pushed)
    assert(pushed.contains("LessThan(l_quantity"), pushed)
    val read = scans.map(_.metadata("ReadSchema")).mkString
    assert(read.contains("l_quantity") && !read.contains("l_orderkey"), read)
  }

  test("e12: latest-snapshot is one exchange (partial agg before shuffle)") {
    val df = SparkEntry.queries("e12_latest_snapshot")(spark, Sf01)
    // groupBy user_id + global sort = 2; a window/join formulation would
    // add more. Partial aggregation must appear below the exchange.
    assert(exchanges(df) <= 2, planOf(df).take(2000))
    assert(planOf(df).contains("partial_max"), planOf(df).take(2000))
  }

  test("d9: candidate refine carries the threshold-bounded levenshtein") {
    val plan = planOf(
      dedup.Dedup.editDistancePairs(
        Tables.documents(spark, Sf01), "doc_id", "text", 40, 5))
    assert(plan.contains("levenshtein"), plan.take(2000))
    // The candidate join is an equi hash/merge join on the segment key —
    // never a nested-loop over the corpus (the residual short-short bucket
    // joins on an inequality but only over the ≤k-char slice).
    assert(plan.contains("levenshtein(s_a") || plan.contains("levenshtein"),
      plan.take(2000))
  }

  test("a15: argmax plans as an aggregate, not a window sort") {
    val plan = planOf(SparkEntry.queries("a15_argmax")(spark, Sf01))
    assert(plan.contains("partial_max"), plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2000))
  }

  test("runtime bloom filter: a selective fact-fact join row-filters the big scan") {
    // The 100 TB shape: when neither side broadcasts, Spark can still
    // build a bloom filter from the SELECTIVE side at runtime and inject
    // a might_contain() predicate into the big side's scan — rows that
    // cannot join die at the scan instead of riding the shuffle. Pin that
    // the engine config surface delivers this (thresholds lowered because
    // test-scale scans are below the 10 GB default application side).
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the shuffle-join shape
      val ord = Tables.orders(spark, Sf01)
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val li = Tables.lineitem(spark, Sf01)
      val j = li.join(ord,
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      val plan = planOf(j)
      assert(plan.contains("might_contain"), plan.take(2000))
      assert(plan.contains("bloom_filter_agg"), plan.take(2000))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("d6 decontamination: the benchmark side broadcasts, corpus never shuffles") {
    val plan = planOf(SparkEntry.queries("d6_decontaminate")(spark, Sf01))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("n2 bucket assignment: ONE aggregation computes all planes×tables dots") {
    // hyperplaneBuckets' contract is a single map-side-combinable hash
    // aggregation over the element rows (broadcast coefficient join, one
    // groupBy vec_id) — not the earlier ×(planes·tables) row explosion.
    // Shape: exactly one shuffle (the vec_id agg; AQE may append one more
    // for the table explode), partial sums below it, and no shuffle of
    // the element relation multiplied by the plane count.
    import org.apache.spark.sql.functions._
    val vecs = Tables.embeddings(spark, Sf01)
      .select(col("vec_id"), sim.Similarity.asDouble(col("embedding")).as("v"))
    val df = sim.Similarity.hyperplaneBuckets(vecs, 8, 4, (p, i) =>
      ((conv(substring(md5(concat_ws(":", lit("plane"), lit(p.toString),
        i.cast("string"))), 1, 15), 16, 10).cast("long") % 2000001L)
        .cast("double") - 1000000.0) / 1000000.0)
    // The un-executed AQE wrapper hides its children from collect();
    // assert on the plan text: exactly ONE exchange keyed by vec_id (the
    // all-dots agg), partial sums below it, coefs joined by broadcast.
    // The only other permitted exchange is the dim-sized distinct(i) that
    // builds the coefficient array.
    val plan = planOf(df)
    assert("Exchange hashpartitioning\\(vec_id".r.findAllIn(plan).size == 1, plan.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2, plan.take(2000))
    assert(plan.contains("partial_sum"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
  }

  test("d16: prefix candidate generation is an equi-join, never a product") {
    // The AllPairs contract at plan level: candidates come from the
    // prefix self-join ON THE SHINGLE (hash/merge equi-join) and the
    // refine re-joins by (doc, shingle) — a nested-loop or cartesian
    // anywhere means the prefix index degenerated to all-pairs.
    val plan = planOf(SparkEntry.queries("d16_jaccard_prefix")(spark, Sf01))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // the candidate self-join keys on the shingle (at test scale AQE may
    // broadcast it; the join KEY is the invariant, not the strategy)
    assert("Join \\[s#\\d+".r.findFirstIn(plan).isDefined, plan.take(3000))
  }

  test("a21: every supplier probes the one-row sketch via broadcast") {
    // The stored-sketch point-query shape: the sketch relation (1 row)
    // must broadcast under the cross join; the fact aggregation must not
    // re-shuffle to meet it.
    val plan = planOf(SparkEntry.queries("a21_cms")(spark, Sf01))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(plan.contains("cms_estimate"), plan.take(3000))
  }

  test("g15: the walk frontier broadcasts (step-1 shape pins the loop), " +
      "edges never shuffle; steps 2+ are checkpoint leaves") {
    // r19: steps 2+ are LAZY per-step checkpoints (plan growth O(steps),
    // not O(steps²)), so the returned plan carries ONE representative
    // frontier⋈edges join — step 1's, byte-identically constructed to
    // every later step's — with the |walks|-row frontier on the
    // broadcast side, plus one LogicalRDD leaf per later step. An
    // exchange of the edge relation keyed by src would mean the frontier
    // stopped driving the join.
    val plan = planOf(SparkEntry.queries("g15_random_walks")(spark, Sf01))
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 1, s"expected the step-1 broadcast join, got $bhj:\n" +
      plan.take(3000))
    // steps 2..4 enter the union as checkpoint leaves
    val leaves = "Scan ExistingRDD".r.findAllIn(plan).size
    assert(leaves >= 3, s"expected >=3 per-step checkpoint leaves, got $leaves:\n" +
      plan.take(3000))
    assert(!("Exchange hashpartitioning\\(src".r.findFirstIn(plan).isDefined),
      plan.take(3000))
  }

  test("e23: builtin session_window groups in one user_id exchange") {
    // The declarative sessionization must shuffle the events once by
    // user_id for the session merge; the only other exchange is the
    // final (tiny) global orderBy.
    val df = SparkEntry.queries("e23_session_window")(spark, Sf01)
    val physical: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val byUser = physical.collect { case e: ShuffleExchangeExec => e }
      .count(e => e.outputPartitioning.toString.startsWith("hashpartitioning") &&
        e.outputPartitioning.toString.contains("user_id"))
    assert(byUser == 1, s"expected 1 user_id hash exchange, got $byUser:\n" +
      physical.toString.take(2000))
    // and the merge itself runs in Spark's dedicated session-merge node
    assert(physical.toString.contains("MergingSessions"),
      physical.toString.take(2000))
  }

  test("e14: the per-user stats table joins the fact scan by broadcast") {
    val plan = planOf(SparkEntry.queries("e14_zscore_outliers")(spark, Sf01))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    // The fact side must not shuffle for the join: the only exchange is
    // the user_id moment aggregation feeding the broadcast.
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1, plan.take(2000))
  }

  test("p9: the per-source probability table broadcasts onto the corpus") {
    val plan = planOf(SparkEntry.queries("p9_mixture_sample")(spark, Sf01))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    // Permitted hash exchanges: the source-count aggregation, which the
    // plan derives twice (once under the Σ√n total, once under the
    // probability projection) — both are per-source-cardinality, i.e.
    // tiny at any corpus scale. The corpus relation itself must reach the
    // join as a bare scan: its only exchange is the final orderBy's range
    // partitioning.
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2, plan.take(2000))
    assert("Exchange rangepartitioning".r.findAllIn(plan).size <= 1, plan.take(2000))
  }

  test("q21: the decorrelated wait census scans lineitem exactly once") {
    // Classic Q21 is EXISTS + NOT-EXISTS fact self-joins = 3 lineitem
    // scans and 3 fact shuffles; the decorrelated per-order census must
    // read the fact once and shuffle it once (on l_orderkey).
    val df = SparkEntry.queries("q21_waiting_supplier")(spark, Sf01)
    val physical: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val liScans = physical.collect { case f: FileSourceScanExec => f }
      .count(_.metadata("Location").contains("lineitem"))
    assert(liScans == 1, s"expected 1 lineitem scan, got $liScans:\n" +
      physical.toString.take(1500))
  }

  test("q13: zero-order customers survive via a left outer join") {
    val plan = planOf(SparkEntry.queries("q13_order_histogram")(spark, Sf01))
    assert(plan.contains("LeftOuter"), plan.take(2000))
  }

  test("q2: the per-part min re-join broadcasts (dimension-sized, never the fact)") {
    val plan = planOf(SparkEntry.queries("q2_min_cost_supplier")(spark, Sf01))
    // The decorrelated correlated-MIN: eligible ⋈ mins on (key, cost)
    // must be a BroadcastHashJoin — mins is |parts|-bounded at any scale.
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("q11: the threshold attaches as a broadcast single-row join, not a shuffle") {
    val df = SparkEntry.queries("q11_important_stock")(spark, Sf01)
    val plan = planOf(df)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("g11: candidate generation is hash joins end to end (no cartesian)") {
    val plan = planOf(SparkEntry.queries("g11_link_prediction")(spark, Sf001))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("g16: biased walk is equi-joins end to end; frontier drives the " +
      "visible step, edges never shuffle; steps 2+ are checkpoint leaves") {
    // r19: steps 2+ are LAZY per-step checkpoints (the 2^steps ADVICE
    // fix — each step references the previous frontier twice, so the
    // un-checkpointed plan doubled per step), so the returned plan
    // carries step 1's representative shape: the frontier⋈edges probe
    // (explicit broadcast hint, like g15) with the adjacency probe
    // constant-folded away (step 1's prev is literal null), plus one
    // LogicalRDD leaf per later step. The steps-2+ adjacency probes run
    // at each step's own checkpoint planning, byte-identically
    // constructed — GraphAlgSpec pins their output against an
    // independent md5 reference sampler. Nothing may degenerate to a
    // cartesian product,
    // and the edge relation must never exchange by src inside the loop.
    // collect() (not count(), which builds a separate plan) so AQE
    // finalizes THIS df's join strategies.
    val df = SparkEntry.queries("g16_biased_walks")(spark, Sf001)
    df.collect()
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // The only nested-loop allowed is the bounded seeds×nWalks Cross fan
    // that mints walk ids (nWalks = 2 rows on the broadcast side). A
    // LeftOuter/Inner BNLJ would mean the adjacency or edge probe
    // degenerated to a product.
    val nljTypes = "BroadcastNestedLoopJoin Build\\w+, (\\w+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(nljTypes.subsetOf(Set("Cross")),
      s"non-Cross nested-loop joins $nljTypes:\n" + plan.take(3000))
    // Step 1's frontier-broadcast edge probe resolves to a broadcast
    // hash join at this scale; steps 2..4 enter the union as leaves.
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 1, s"expected the step-1 broadcast join, got $bhj:\n" +
      plan.take(3000))
    val leaves = "Scan ExistingRDD".r.findAllIn(plan).size
    assert(leaves >= 3, s"expected >=3 per-step checkpoint leaves, got $leaves:\n" +
      plan.take(3000))
    assert(!("Exchange hashpartitioning\\(src".r.findFirstIn(plan).isDefined),
      plan.take(3000))
  }

  test("g17: skip-gram counts shuffle once on (center, context), partial-aggregated") {
    // The walk relation arrives eagerly checkpointed (RDD scan); the
    // emission is the bounded-fanout walk_id self-join plus ONE
    // map-side-combinable count — exactly one hash exchange keyed by the
    // (center, context) group, with partial_count running below it. The
    // only other exchanges permitted: the walk_id self-join's (≤2, and
    // AQE may broadcast one side instead) and the final orderBy's range
    // partitioning.
    val df = SparkEntry.queries("g17_walk_skipgrams")(spark, Sf001)
    df.collect() // finalize THIS df's AQE plan (count() builds its own)
    val physical: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val s = physical.toString
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"), s.take(3000))
    // Post-execution the exchanges sit under materialized
    // ShuffleQueryStage LEAF nodes (collect cannot descend), so count
    // them in the plan text: exactly one hash exchange keyed by the
    // (center, context) group.
    val byGroup = "Exchange hashpartitioning\\(center".r.findAllIn(s).size
    assert(byGroup == 1,
      s"expected exactly 1 (center, context) hash exchange, got $byGroup:\n" +
        s.take(3000))
    assert(s.contains("partial_count"), s.take(3000))
  }

  test("searchNew: candidates are (band, bucket) equi-joins, stored bands never self-join") {
    // The incremental-dedup scale contract: candidate pairs come from
    // hash equi-joins of the NEW batch's bands against the stored band
    // relation (two orientations) plus new×new — the stored relation is
    // never on both sides of one join, so an increment's work is
    // O(batch), not O(corpus²).
    import graft.dedup.{Dedup, DedupStore}
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_store").toString
    val docs = Tables.documents(spark, Sf001)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    DedupStore.save(docs.filter(org.apache.spark.sql.functions.col("doc_id") < 300),
      "doc_id", "text", 3, 16, 4, s"$dir/ix")
    val newBands = Dedup.minhashBanded(
      Dedup.shingleIndex(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") >= 300),
        "doc_id", "text", 3), 16, 4)
    val cand = DedupStore.candidatePairs(spark, s"$dir/ix", newBands)
    val candPlan = planOf(cand)
    assert(!candPlan.contains("CartesianProduct") &&
      !candPlan.contains("BroadcastNestedLoopJoin"), candPlan.take(3000))
    // every candidate join keys on the band column (equi, not a filter
    // over a product)
    assert("Join.*\\[band".r.findFirstIn(candPlan.replace("\n", " ")).isDefined ||
      candPlan.contains("band_b"), candPlan.take(3000))
    // the stored band relation is scanned exactly ONCE: the single
    // cross join orients pairs with least/greatest instead of a second
    // arm (two identical scans Spark could not reuse), and a
    // stored×stored arm would add more
    val physical: SparkPlan = cand.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val storedScans = physical.collectWithSubqueries { case f: FileSourceScanExec => f }
      .count(_.metadata("Location").contains("/ix/bands"))
    assert(storedScans == 1,
      s"expected 1 stored-band scan (single oriented new×stored arm), got $storedScans")
    // and the probe's refine stage restricts the stored shingle scan to
    // candidate-involved ids (left-semi) — the O(corpus) refine guard
    val probe = DedupStore.searchNew(spark, s"$dir/ix",
      docs.filter(org.apache.spark.sql.functions.col("doc_id") >= 300),
      "doc_id", "text", 3, 16, 4, 0.5)
    val probePlan = planOf(probe)
    assert(probePlan.contains("LeftSemi"), probePlan.take(3000))
    assert(!probePlan.contains("CartesianProduct"), probePlan.take(3000))
    org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(probe)
  }

  test("m8: decoded-audio dedup is mapPartitions decode into a banded equi-join") {
    // The multimodal scale contract: decode runs distributed
    // (mapPartitions over the media rows — object serialization appears
    // as SerializeFromObject), and the perceptual-hash candidate stage
    // is the 4-band nibble equi-join — never an all-pairs product.
    val df = SparkEntry.queries("m8_phash_audio")(spark, Sf001)
    val plan = planOf(df)
    assert(plan.contains("MapPartitions") || plan.contains("SerializeFromObject"),
      plan.take(3000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // the banded candidate join keys on the nibble band/bkey columns
    assert(plan.contains("bkey"), plan.take(3000))
  }

  private def unwrapped(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def windowCount(df: DataFrame): Int =
    unwrapped(df).collectWithSubqueries {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
      case g: org.apache.spark.sql.execution.window.WindowGroupLimitExec => g
    }.count(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec])

  test("t20: class/total/vocab dims attach by broadcast; argmax is a single window pass") {
    // NB train+score scale contract: the |langs|-sized class dimension,
    // the per-class totals, and the two scalar totals must all reach the
    // per-doc token multiset as broadcasts (never shuffling the doc
    // side); the only window is the per-doc argmax. A CartesianProduct
    // would mean a scalar broadcast silently became an all-pairs product.
    val df = SparkEntry.queries("t20_nb_langid")(spark, Sf001)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(windowCount(df) == 1, plan.take(3000))
  }

  test("t21: the lang dimension broadcasts; tercile assignment is one per-lang window") {
    val df = SparkEntry.queries("t21_ccnet_buckets")(spark, Sf001)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(windowCount(df) == 1, plan.take(3000))
  }

  test("p16: the 1024-row LM broadcasts and the top-k is TakeOrdered, never a global sort") {
    // DSIR's scale contract: the bucketed log-ratio LM is a bounded
    // (1024-row) relation that must broadcast to the per-doc bucket
    // counts, and the Gumbel-top-k selection must plan as
    // TakeOrderedAndProject (driver-side k-heap) — a global Sort over
    // every document would shuffle the corpus to rank 100 rows.
    val df = SparkEntry.queries("p16_dsir_resample")(spark, Sf001)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
  }

  test("d17: 5-gram assembly is array-side (no window, no sort); the df join back is an equi-join") {
    // Gram assembly must be the higher-order transform over each doc's
    // own token array — a narrow map, zero exchanges — not a windowed
    // lead() chain: the window spelling planned a full (doc_id, pos)
    // sort-shuffle of the token relation and, because the gram relation
    // feeds both sides of the df join, executed it TWICE. The
    // gram-frequency join back must be hash-keyed on the gram, never a
    // product.
    val df = SparkEntry.queries("d17_ngram_boilerplate")(spark, Sf001)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(windowCount(df) == 0, plan.take(3000))
  }

  test("g19: PPMI marginal joins are broadcasts; nothing is a product") {
    // The vocabulary-sized marginals and the scalar total must attach to
    // the (center, context) count relation by broadcast — re-shuffling
    // the pair counts for dimension joins would double the operator's
    // exchange count for no reason.
    val df = SparkEntry.queries("g19_walk_pmi")(spark, Sf001)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("p17: split assignment adds no product on top of the CC fixpoint") {
    val df = SparkEntry.queries("p17_leakage_safe_split")(spark, Sf001)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(df)
  }

  test("d18b: the candidate stage is a per-cell equi-join; centroids broadcast") {
    // SemDeDup's scale contract: pairwise cosine only within a cell
    // (equi-join on the quantizer cell — never all-pairs), and the
    // O(nCells) centroid table reaches the corpus by broadcast.
    val df = SparkEntry.queries("d18b_semdedup_portable")(spark, Sf001)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(df)
  }

  test("d19: excision is an id-keyed ranged anti-join over the anchor-gram span machinery") {
    // The apply stage must not add any product on top of d10's
    // anchor-gram equi-join: removal ranges merge in per-doc windows and
    // the token excision anti-joins on the document id with a bounded
    // range condition.
    val df = SparkEntry.queries("d19_span_dedup_apply")(spark, Sf001)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("LeftAnti"), plan.take(3000))
  }

  test("d20: the threshold fan is a bounded broadcast nested-loop, never a corpus re-scan") {
    // One pass over the pair relation fanned against the 7-row threshold
    // list: the range join must plan as a BroadcastNestedLoopJoin with
    // the tiny side built (bounded ≤7x fan-out) — NOT a CartesianProduct
    // and NOT per-τ re-evaluation of the pair build (one shingle-join
    // aggregation in the plan, not seven).
    val df = SparkEntry.queries("d20_threshold_sweep")(spark, Sf001)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("g20: modularity aggregates join labels twice by hash/broadcast; no product") {
    val df = SparkEntry.queries("g20_modularity")(spark, Sf001)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(df)
  }

  test("g21: conductance keeps g20's label-join shape; no product") {
    val df = SparkEntry.queries("g21_conductance")(spark, Sf001)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(df)
  }

  test("n14: probe sweep is one candidate pass + bounded broadcast budget fan") {
    // The per-budget rows must come from ONE discovered-pair relation
    // fanned against the 8-row budget list (broadcast nested loop), and
    // the only unconditioned joins are the bounded broadcast fans (truth
    // baseline + budgets + the scalar n_queries) — never an unbounded
    // CartesianProduct. The cell candidate join itself must be an
    // equi-join (hash or sort-merge on cell).
    val df = SparkEntry.queries("n14_probe_sweep")(spark, Sf001)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("t23: classifier scoring broadcasts the 33-row weight relation; no product") {
    // The corpus-sized feature relation must never shuffle to meet the
    // weights: the margin join plans as a BroadcastHashJoin with the
    // dims+1-row weight side built.
    val df = SparkEntry.queries("t23_classifier_score")(spark, Sf001)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(df)
  }

  test("d21: band sweep is one match join + bounded config fan; no product") {
    // The per-seed match relation must be an equi-join on (k, min) and
    // the config regrouping a bounded 5-row broadcast fan
    // (BroadcastNestedLoopJoin) — never a CartesianProduct and never a
    // per-config signature recomputation (one signature aggregation in
    // the plan, not five).
    val df = SparkEntry.queries("d21_lsh_band_sweep")(spark, Sf001)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("t24: calibration is a pure projection + combinable groupBy over the scored corpus") {
    // Same weight-broadcast contract as t23 (the feature relation never
    // shuffles to meet the 33-row weight side), and the band column must
    // not introduce a window/sort — no Window node in the plan.
    val df = SparkEntry.queries("t24_classifier_calibration")(spark, Sf001)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
    org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(df)
  }

  test("p18: temperature sweep is one corpus scan + bounded broadcast fans; no product") {
    // The α fan and the 1-row total are bounded broadcast nested loops;
    // after the per-source aggregation everything is dimension-sized.
    // The corpus must be scanned once (one token aggregation), never
    // once per α.
    val df = SparkEntry.queries("p18_temperature_sweep")(spark, Sf001)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("t25: ridge sweep scores all lambdas through one broadcast weight join") {
    // The corpus-sized feature relation is scanned once for scoring and
    // meets the 4-lambda x 33-row weight relation via BroadcastHashJoin;
    // no per-lambda corpus re-scan, no window, no product.
    val df = SparkEntry.queries("t25_ridge_sweep")(spark, Sf001)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
    org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(df)
  }

  test("p19: classifier release gates via broadcast weights, dedups via hash agg; no window") {
    val df = SparkEntry.queries("p19_classifier_release")(spark, Sf001)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
    org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(df)
  }

  test("d22: estimator table is equi-joins end to end; exact refine only on candidates") {
    val df = SparkEntry.queries("d22_minhash_estimate")(spark, Sf001)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("m9: frame-level dedup stays the banded equi-join; clip rollup adds no product") {
    // Video-shaped pipeline contract: decode runs distributed
    // (mapPartitions), frame candidates come from the shared 4-band
    // nibble equi-join (bkey), and the frame→clip aggregation is a plain
    // hash aggregation — no stage is all-pairs.
    val df = SparkEntry.queries("m9_phash_video_frames")(spark, Sf001)
    val plan = planOf(df)
    assert(plan.contains("MapPartitions") || plan.contains("SerializeFromObject"),
      plan.take(3000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("bkey"), plan.take(3000))
  }

  test("d24: radius sweep truth side is the bounded mask fan + an fp equi-join; no product") {
    // The truth pairs must come from the 2517-mask broadcast XOR
    // expansion joined back by fingerprint EQUALITY (BroadcastHashJoin
    // or shuffled hash on fp) — never an all-pairs product; the mask and
    // r fans are the only BroadcastNestedLoopJoins.
    val df = SparkEntry.queries("d24_simhash_radius_sweep")(spark, Sf001)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("p21: funnel rows are scalar aggregations; later stages read the survivor checkpoint") {
    // The attrition funnel must be six combinable count/sum aggregations
    // with no product anywhere; stages 2-5 aggregate the checkpointed
    // survivor relation (an InMemory/checkpoint scan), never re-running
    // the gate chain per row.
    val df = SparkEntry.queries("p21_release_funnel")(spark, Sf001)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("Scan ExistingRDD") || plan.contains("LogicalRDD") ||
      plan.contains("ScanExisting"), plan.take(3000))
    org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(df)
  }

  test("d23: span-length sweep is one gram pass + bounded broadcast L fan") {
    // The per-L rows must come from ONE span relation (one anchor-gram
    // self-join in the plan, not seven) fanned against the 7-row L list
    // via a bounded BroadcastNestedLoopJoin range join — the d20 shape;
    // never a CartesianProduct, never a per-L gram re-join.
    val df = SparkEntry.queries("d23_span_length_sweep")(spark, Sf001)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("t26: threshold table is one scoring pass + bounded broadcast band fan; no window") {
    // The corpus-sized margin relation is computed ONCE (weights meet it
    // by BroadcastHashJoin, the t23 contract) and fanned against the
    // ≤48-row threshold list via a bounded BroadcastNestedLoopJoin range
    // join (the d20 shape) — never a per-θ re-score, never a window.
    val df = SparkEntry.queries("t26_classifier_threshold")(spark, Sf001)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
    org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(df)
  }

  test("p20: the composed release is equi-joins + anti-join excision; no product") {
    // The survivor relation is materialized once behind a checkpoint
    // (its four downstream consumers otherwise re-ran the whole gate
    // chain — measured 23 s → 13 s fresh-JVM at sf0.1), so the VISIBLE
    // plan here is the span-excision + split + packing tail: the
    // excision must stay an anti-join (LeftAnti) and nothing may plan
    // as a product. The gate stages behind the checkpoint are the
    // stage operators themselves and keep their own pins (t23 weight
    // broadcast, d13/d3b banded equi-joins, CC structure-independence).
    val df = SparkEntry.queries("p20_release_pipeline")(spark, Sf001)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("LeftAnti"), plan.take(3000))
    org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(df)
  }
}
