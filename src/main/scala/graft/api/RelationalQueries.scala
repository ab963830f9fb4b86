package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** SURVEY §2 relational operator parity, demonstrated on the TPC-H-ish
  * testdata with a DuckDB-checkable ANSI-SQL oracle per query.
  *
  * Conventions (driver contract):
  *  - every computed column is aliased identically in the Spark plan and
  *    the oracle SQL;
  *  - every query is fully ORDER BY'd on a unique key for determinism;
  *  - double aggregates are ROUND()ed on both sides so partial-aggregation
  *    summation order can't flip the last ulp;
  *  - SUM over integers is CAST to BIGINT in the oracle (DuckDB widens to
  *    HUGEINT, Spark keeps LongType).
  */
object RelationalQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // S1: schema'd scan + projection (column pruning reaches the parquet
    // reader — ReadSchema shows only the four columns).
    "s1_scan_project" -> ((s, d) => lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_returnflag"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // P1+P2: cast projection + rename. FLOOR before the integer cast: Spark
    // truncates double→bigint, DuckDB rounds, FLOOR pins both.
    "p1_cast_rename" -> ((s, d) => lineitem(s, d)
      .select(
        col("l_orderkey").as("order_id"),
        col("l_linenumber").as("line_no"),
        floor(col("l_quantity")).cast("long").as("qty_long"),
        col("l_extendedprice").cast("string").substr(lit(1), lit(1)).as("price_head"))
      .orderBy(col("order_id"), col("line_no"))),

    // P3: seeded Bernoulli sample — not reproducible in DuckDB, driver
    // records a rows-only check. Determinism across our own runs is tested
    // in ScalaTest (same seed ⇒ same rows).
    "p3_sample" -> ((s, d) => lineitem(s, d)
      .sample(withReplacement = false, fraction = 0.1, seed = 1L)
      .select(col("l_orderkey"), col("l_linenumber"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // P3b: portable deterministic ~10% sample — keep rows whose md5-derived
    // uniform hash of the primary key lands in bucket 0 of 10. Unlike the
    // seeded Bernoulli sample this is engine-independent (exact DuckDB
    // oracle) and, at scale, repeatable across re-runs and retried tasks
    // regardless of partitioning.
    "p3b_sample_portable" -> ((s, d) => lineitem(s, d)
      .filter(
        graft.ops.Portable.md5Long(concat(
          col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string"))) % 10 === 0)
      .select(col("l_orderkey"), col("l_linenumber"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // P4: duplicate-key report (generalizes the reference's duplicate-row
    // probe at pageRank.py:59-63).
    "p4_dup_report" -> ((s, d) => lineitem(s, d)
      .groupBy(col("l_orderkey"), col("l_partkey"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .orderBy(col("l_orderkey"), col("l_partkey"))),

    // P5/F5: literal membership filter.
    "p5_member_filter" -> ((s, d) => customer(s, d)
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))),

    // J1: equi hash join + group aggregation (edges ⋈ block assignment
    // shape). part is the small dim — Catalyst broadcasts it.
    "j1_join_agg" -> ((s, d) => lineitem(s, d)
      .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("qty"))
      .orderBy(col("p_brand"))),

    // J2: fact ⋈ evolving-dim join (the per-iteration rank-lookup shape).
    "j2_join_dim" -> ((s, d) => orders(s, d)
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 1).as("rev"))
      .orderBy(col("c_mktsegment"))),

    // J3: multi-way join chain (TPC-H Q5 shape) — revenue per region.
    // Dims are broadcast; only the fact table shuffles for the final agg.
    "j3_join_chain" -> ((s, d) => lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 1).as("revenue"))
      .orderBy(col("r_name"))),

    // J4: left-semi join (EXISTS).
    "j4_semi_join" -> ((s, d) => customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"))
      .orderBy(col("c_custkey"))),

    // J5: left-anti join (NOT EXISTS) — customers without any high-value
    // order (the unfiltered variant is trivially empty on this data).
    "j5_anti_join" -> ((s, d) => customer(s, d)
      .join(orders(s, d).filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"))
      .orderBy(col("c_custkey"))),

    // J6: left-outer join preserving unmatched rows.
    "j6_outer_join" -> ((s, d) => customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy(col("c_custkey"))),

    // A1/U1: distinct union of two key columns (vertex extraction shape).
    "a1_distinct_union" -> ((s, d) => customer(s, d)
      .select(col("c_nationkey").as("k"))
      .union(supplier(s, d).select(col("s_nationkey").as("k")))
      .distinct()
      .orderBy(col("k"))),

    // A2: group-by count (out-degree shape); partial+final hash agg.
    "a2_groupby_count" -> ((s, d) => lineitem(s, d)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("out_degree"))
      .orderBy(col("l_suppkey"))),

    // A3/P6: group-by collect (adjacency-list shape), canonicalized with
    // sort_array; empty groups impossible by construction (inner grouping).
    // Serialized to a csv string so the driver's comparer (which cannot
    // sort array-typed columns) sees a scalar.
    "a3_groupby_collect" -> ((s, d) => lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(concat_ws(",",
        sort_array(collect_list(col("l_linenumber"))).cast("array<string>")).as("lines"))
      .orderBy(col("l_orderkey"))),

    // A4: keyed sum (the per-iteration contribution scatter-add shape).
    "a4_keyed_sum" -> ((s, d) => lineitem(s, d)
      .groupBy(col("l_partkey"))
      .agg(round(sum(col("l_quantity") * (lit(1) - col("l_discount"))), 2).as("contrib"))
      .orderBy(col("l_partkey"))),

    // A5/A8: global scalar aggregates in one pass.
    "a5_global_stats" -> ((s, d) => lineitem(s, d)
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        round(sum(col("l_quantity")), 1).as("sum_qty"),
        round(min(col("l_extendedprice")), 2).as("min_price"),
        round(max(col("l_extendedprice")), 2).as("max_price"))),

    // A6: broadcast-scalar renormalization (share of global total) via an
    // unpartitioned window — the (1-s)/N fold-back shape.
    "a6_renormalize" -> ((s, d) => {
      val rev = lineitem(s, d)
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_extendedprice")).as("r"))
      rev.select(
          col("l_suppkey"),
          round(col("r") / sum(col("r")).over(Window.partitionBy()), 6).as("share"))
        .orderBy(col("l_suppkey"))
    }),

    // A7: global L1 delta between two aligned distributions (convergence
    // metric shape): quantity-share vs revenue-share per supplier.
    "a7_l1_delta" -> ((s, d) => {
      val li = lineitem(s, d)
      val q = li.groupBy(col("l_suppkey")).agg(sum(col("l_quantity")).as("qv"))
        .select(col("l_suppkey"), (col("qv") / sum(col("qv")).over(Window.partitionBy())).as("qs"))
      val p = li.groupBy(col("l_suppkey")).agg(sum(col("l_extendedprice")).as("pv"))
        .select(col("l_suppkey").as("sk"), (col("pv") / sum(col("pv")).over(Window.partitionBy())).as("ps"))
      q.join(p, col("l_suppkey") === col("sk"))
        .agg(round(sum(abs(col("qs") - col("ps"))), 6).as("l1"))
    }),

    // O3+O4: top-k by sort key desc — Catalyst plans TakeOrderedAndProject.
    "o4_topk" -> ((s, d) => orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
      .select(col("o_orderkey"), col("o_totalprice"))),

    // O6 / §2.5: ranking window — top-3 customers per segment.
    "w1_rank_window" -> ((s, d) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      customer(s, d)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("c_mktsegment"), col("c_custkey"), col("rnk"))
        .orderBy(col("c_mktsegment"), col("rnk"))
    }),

    // W2: analytic-window breadth — dense_rank / lag / ntile in one pass
    // over a single partition-by-customer window spec (one shuffle on
    // o_custkey serves all three functions).
    "w2_analytics_window" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      orders(s, d)
        .select(
          col("o_custkey"), col("o_orderkey"),
          dense_rank().over(w).as("seq"),
          round(coalesce(lag(col("o_totalprice"), 1).over(w), lit(0.0)), 2).as("prev_price"),
          ntile(4).over(w).as("quartile"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // Distribution window functions (percent_rank / cume_dist): each
    // supplier's account-balance standing within its nation — the ranking
    // family's distributional members, completing w1 (rank/row_number) and
    // w2 (dense_rank/lag/ntile). Deterministic under ties via the
    // s_suppkey tie-break in the window order.
    "w3_distribution_window" -> ((s, d) => {
      val w = Window.partitionBy(col("s_nationkey"))
        .orderBy(col("s_acctbal"), col("s_suppkey"))
      supplier(s, d)
        .select(
          col("s_suppkey"), col("s_nationkey"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
        .orderBy(col("s_suppkey"))
    }),

    // Top-N per group via rank window — the per-key companion of o4's
    // global top-k and a15's top-1 argmax: each nation's 3 highest-balance
    // suppliers. At scale this is one hash shuffle + per-partition sort
    // with the rank predicate applied streaming — never a global sort.
    "w4_topn_per_group" -> ((s, d) => {
      val w = Window.partitionBy(col("s_nationkey"))
        .orderBy(col("s_acctbal").desc, col("s_suppkey"))
      supplier(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("s_nationkey"), col("rk"), col("s_suppkey"),
          round(col("s_acctbal"), 2).as("acctbal"))
        .orderBy(col("s_nationkey"), col("rk"))
    }),

    // NTILE bucketing — the feature-engineering "decile" primitive
    // (quantile-bucket a score within its segment). Partitioned window
    // with a unique tie-break, so bucket boundaries are deterministic in
    // both engines.
    "w5_ntile" -> ((s, d) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      customer(s, d)
        .withColumn("decile", ntile(10).over(w))
        .select(col("c_custkey"), col("c_mktsegment"), col("decile"))
        .orderBy(col("c_custkey"))
    }),

    // Per-key categorical MODE (most frequent value): two stacked
    // map-side-combinable aggregations — the window picking the winner
    // runs over the (key, value) count relation (≤ |keys|·|domain| rows),
    // never the fact. Tie-break (count desc, value asc) is deterministic.
    "a19_mode" -> ((s, d) => {
      val cnt = orders(s, d)
        .groupBy(col("o_custkey"), col("o_orderpriority"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("c").desc, col("o_orderpriority"))
      cnt.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("o_custkey"),
          col("o_orderpriority").as("mode_priority"), col("c").as("n"))
        .orderBy(col("o_custkey"))
    }),

    // A12: exact interpolated quantiles per group (the UI boxplot shape at
    // relational scale; percentile() is Spark's exact linear-interpolation
    // aggregate, matching DuckDB's quantile_cont).
    "a12_quantiles" -> ((s, d) => lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25"),
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.75)"), 4).as("p75"),
        round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95"))
      .orderBy(col("l_returnflag"))),

    // U2: set intersection.
    "u2_intersect" -> ((s, d) => customer(s, d).select(col("c_custkey").as("k"))
      .intersect(orders(s, d).select(col("o_custkey").as("k")))
      .orderBy(col("k"))),

    // U3: set difference — all customers minus high-value-order customers.
    "u3_except" -> ((s, d) => customer(s, d).select(col("c_custkey").as("k"))
      .except(orders(s, d).filter(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("k")))
      .orderBy(col("k"))),

    // U2/U3 multiset forms: bag semantics keep duplicate cardinality —
    // the distinction matters for dedup bookkeeping (how many copies
    // survive), not just membership.
    "u4_intersect_all" -> ((s, d) => lineitem(s, d).select(col("l_suppkey").as("k"))
      .intersectAll(lineitem(s, d).filter(col("l_quantity") > 25)
        .select(col("l_suppkey").as("k")))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
      .orderBy(col("k"))),

    "u5_except_all" -> ((s, d) => lineitem(s, d).select(col("l_suppkey").as("k"))
      .exceptAll(lineitem(s, d).filter(col("l_quantity") > 25)
        .select(col("l_suppkey").as("k")))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
      .orderBy(col("k"))),

    // Unpivot (wide → long): melt per-nation balance stats back into
    // (nation, metric, value) rows — inverse of e8_pivot's shape.
    "u6_unpivot" -> ((s, d) => {
      // The average is computed in exact integer CENTS and rounded
      // half-away-from-zero with integer arithmetic: at sf0.001 one
      // nation's mean is exactly a half cent, and rounding that double
      // diverges between engines (Spark rounds the shortest decimal
      // representation, DuckDB the scaled binary value) even when both
      // divide identical exact sums — caught by the round-8 sf0.001
      // cross-check. min/max round already-2-dp stored values: identity.
      val agg0 = customer(s, d).groupBy(col("c_nationkey"))
        .agg(
          round(min(col("c_acctbal")), 2).as("min_bal"),
          sum(round(col("c_acctbal") * 100).cast("long")).as("cents"),
          count(lit(1)).as("cnt"),
          round(max(col("c_acctbal")), 2).as("max_bal"))
      val avgCents = when(col("cents") >= 0,
          expr("(2 * cents + cnt) div (2 * cnt)"))
        .otherwise(-expr("(2 * (-cents) + cnt) div (2 * cnt)"))
      val wide = agg0.select(col("c_nationkey"), col("min_bal"),
        (avgCents.cast("double") / 100.0).as("avg_bal"), col("max_bal"))
      wide.unpivot(
        Array(col("c_nationkey")),
        Array(col("min_bal"), col("avg_bal"), col("max_bal")),
        "metric", "value")
        .orderBy(col("c_nationkey"), col("metric"))
    }),

    // F3: formatted-text sink projection (the reference's `[page] [score]`
    // line format, pageRank.py:23) — int/string concat only, so the
    // rendering is engine-independent.
    "f3_format_lines" -> ((s, d) => orders(s, d)
      .orderBy(col("o_orderkey"))
      .limit(1000)
      .select(concat(
        lit("["), col("o_orderkey").cast("string"),
        lit("] ["), col("o_orderstatus"), lit("]")).as("line"))),

    // F4: block assignment — floor(ordinal/step), the reference's
    // list_to_groups (pageRank.py:76-86) as a window expression.
    "f4_block_assign" -> ((s, d) => customer(s, d)
      .select(
        col("c_custkey"),
        floor((row_number().over(Window.orderBy(col("c_custkey"))) - 1) / 100)
          .cast("long").as("block_id"))
      .orderBy(col("c_custkey"))),

    // Hierarchical aggregation: ROLLUP(segment, nation) — subtotal rows
    // carry NULLs, so ordering pins NULLS FIRST on both engines (Spark's
    // ASC default; DuckDB defaults NULLS LAST and must be told).
    "a9_rollup" -> ((s, d) => customer(s, d)
      .rollup(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("bal"))
      .orderBy(
        col("c_mktsegment").asc_nulls_first,
        col("c_nationkey").asc_nulls_first)),

    // A9 companion: full cube with grouping_id disambiguating which axes
    // are aggregated away (a NULL key value vs a subtotal row).
    "a13_cube" -> ((s, d) => lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 1).as("qty"),
        grouping_id().cast("long").as("gid"))
      .orderBy(
        col("gid"),
        col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)),

    // Explicit GROUPING SETS (the general form rollup/cube specialize):
    // per-segment and per-nation subtotals plus the grand total, WITHOUT
    // the cross product a cube would add.
    "a14_grouping_sets" -> ((s, d) => customer(s, d)
      .groupingSets(
        Seq(Seq(col("c_mktsegment")), Seq(col("c_nationkey")), Seq.empty[org.apache.spark.sql.Column]),
        col("c_mktsegment"), col("c_nationkey"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("c_acctbal")), 2).as("bal"),
        grouping_id().cast("long").as("gid"))
      .orderBy(
        col("gid"),
        col("c_mktsegment").asc_nulls_first,
        col("c_nationkey").asc_nulls_first)),

    // Per-group argmax as a single map-side-combinable aggregate:
    // max(struct(price, key)) picks each customer's highest-priced order
    // with the unique key as deterministic tie-break — one shuffle, no
    // window, no join-back.
    "a15_argmax" -> ((s, d) => orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(max(struct(col("o_totalprice"), col("o_orderkey"))).as("m"))
      .select(
        col("o_custkey"),
        col("m.o_orderkey").as("top_order"),
        round(col("m.o_totalprice"), 2).as("top_price"))
      .orderBy(col("o_custkey"))),

    // Co-moment statistics (corr / covariance / stddev): single-pass
    // mergeable aggregates (Welford-style partial merge) — the numeric-
    // analytics surface next to the plain sums. corr is scale-free so
    // round-6 absorbs engine summation-order ulps; covar is rounded
    // coarser because its magnitude is ~1e4 here.
    "a16_stats_corr" -> ((s, d) => lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(covar_pop(col("l_quantity"), col("l_extendedprice")), 2).as("covar_qp"),
        round(stddev_pop(col("l_quantity")), 6).as("sd_qty"),
        round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"))
      .orderBy(col("l_returnflag"))),

    // Sketch aggregation (HLL++): approximate distinct parts per supplier.
    // No engine-independent oracle (sketch internals differ) — rows-only
    // driver check; accuracy vs exact countDistinct asserted in ScalaTest.
    "a10_approx_distinct" -> ((s, d) => lineitem(s, d)
      .groupBy(col("l_suppkey"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"))
      .orderBy(col("l_suppkey"))),

    // Custom mergeable HLL sketch (TypedImperativeAggregate) — rows-only;
    // accuracy spec in HllSpec, extension wiring in ExprSpec.
    "a11_hll_distinct" -> ((s, d) => lineitem(s, d)
      .groupBy(col("l_suppkey"))
      .agg(org.apache.spark.sql.graft.HllSketchAgg
        .hllDistinct(col("l_partkey")).as("hll_parts"))
      .orderBy(col("l_suppkey"))),

    // Mergeable KLL quantile sketch (DataSketches) — rows-only (partial-
    // merge order varies run to run); a12_quantiles is the exact twin on
    // the same groups/ranks, and SketchSpec pins the rank-error bound and
    // the merge path. O(k log n) state vs percentile()'s full sort.
    "a18_kll_quantiles" -> ((s, d) => lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(org.apache.spark.sql.graft.KllQuantilesAgg
        .kllQuantiles(col("l_extendedprice"), Seq(0.25, 0.5, 0.75, 0.95)).as("q"))
      .select(
        col("l_returnflag"),
        col("q")(0).as("p25"), col("q")(1).as("p50"),
        col("q")(2).as("p75"), col("q")(3).as("p95"))
      .orderBy(col("l_returnflag"))),

    // Theta-sketch set algebra: customer-audience overlap between two
    // order halves — |A|, |B|, |A∪B|, |A∩B|, |A∖B| from two independently
    // built sketches (the post-hoc composition HLL cannot do). lgK=16
    // (65536 nominal entries) exceeds the customer cardinality at every
    // test sf, so the sketches are in their EXACT regime and the query
    // hash-oracles against COUNT(DISTINCT)/INTERSECT/EXCEPT; the sampling
    // regime's error bound is property-tested in SketchSpec. Each side is
    // one map-side-combinable aggregation; the two 1-row sketch tables
    // broadcast-cross-join.
    "a20_theta_ops" -> ((s, d) => {
      import org.apache.spark.sql.graft.ThetaSketchAgg._
      val ord = orders(s, d)
      val mid = lit("1996-07-01").cast("timestamp")
      val a = ord.filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
          && col("o_orderdate") < mid)
        .agg(thetaSketch(col("o_custkey"), 16).as("sa"))
      val b = ord.filter(col("o_orderdate") >= mid
          && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .agg(thetaSketch(col("o_custkey"), 16).as("sb"))
      a.crossJoin(broadcast(b)).select(
        round(thetaEstimate(col("sa"))).cast("long").as("n_a"),
        round(thetaEstimate(col("sb"))).cast("long").as("n_b"),
        round(thetaUnionEst(col("sa"), col("sb"))).cast("long").as("n_union"),
        round(thetaIntersectEst(col("sa"), col("sb"))).cast("long").as("n_intersect"),
        round(thetaAnotBEst(col("sa"), col("sb"))).cast("long").as("n_a_not_b"))
    }),

    // Count-min sketch: Spark's OWN count_min_sketch aggregate builds the
    // binary; graft's cms_estimate closes the missing read side. One
    // sketch for the whole fact table, then every supplier key probes it
    // through a broadcast of the one-row sketch relation — the stored-
    // sketch point-query shape. Rows-only check (Spark-internal hashing);
    // the bound est ≥ true is asserted in the plan itself (`overcount`
    // would go negative) and property-tested in SketchSpec; a21b is the
    // portable fully-oracled twin.
    "a21_cms" -> ((s, d) => {
      import org.apache.spark.sql.graft.CmsFns.cmsEstimate
      val li = lineitem(s, d)
      val sketch = li.agg(
        count_min_sketch(col("l_suppkey"), lit(0.001d), lit(0.99d), lit(42))
          .as("cms"))
      li.groupBy(col("l_suppkey")).agg(count(lit(1)).as("true_cnt"))
        .crossJoin(broadcast(sketch))
        .select(
          col("l_suppkey"),
          col("true_cnt"),
          cmsEstimate(col("cms"), col("l_suppkey")).as("cms_est"))
        .withColumn("overcount", col("cms_est") - col("true_cnt"))
        .orderBy(col("l_suppkey"))
    }),

    // Stored-sketch ROLLUP on Spark's own DataSketches HLL builtins
    // (hll_sketch_agg → binary per group, hll_union_agg → re-aggregated
    // later WITHOUT rescanning the facts — the sketch-once/roll-up-many
    // warehouse pattern; graft's theta/CMS functions extend the same
    // story to set algebra and frequencies). lgK=14 keeps the sketch in
    // its exact (coupon/set) regime at gate cardinalities (≤ ~10k
    // distincts), so per-group AND unioned estimates hash-oracle against
    // COUNT(DISTINCT); the estimation-regime error is HllSpec territory.
    "a22_hll_rollup" -> ((s, d) => {
      // The per-group sketch relation is the "stored" table: checkpoint
      // it (5 tiny rows) so the ALL branch re-aggregates the SKETCHES,
      // not the facts — one fact scan, exactly the warehouse shape.
      val per = orders(s, d).groupBy(col("o_orderpriority"))
        .agg(hll_sketch_agg(col("o_custkey"), lit(14)).as("sk"))
        .localCheckpoint(true)
      val perOut = per.select(col("o_orderpriority").as("scope"),
        hll_sketch_estimate(col("sk")).as("apx_distinct"))
      val all = per.select(hll_union_agg(col("sk")).as("u"))
        .select(lit("ALL").as("scope"),
          hll_sketch_estimate(col("u")).as("apx_distinct"))
      perOut.unionAll(all).orderBy(col("scope"))
    }),

    // JOIN-SIZE ESTIMATION from count-min sketches (Cormode &
    // Muthukrishnan §4.2: the inner product of two CMS rows bounds the
    // join size Σ_k fA(k)·fB(k) from above; min over depths tightens
    // it). Demonstrated on the classic hard case — self-join size / F2
    // of lineitem on l_partkey — the statistic a 100 TB optimizer wants
    // BEFORE running the join, computable from stored per-table
    // sketches alone. Portable md5 hash family (a21b's), so the DuckDB
    // oracle reproduces the estimate bit-for-bit; the true F2 rides
    // along for the accuracy story (est ≥ true always).
    "a24_cms_selfjoin_est" -> ((s, d) => {
      val w = 2048
      val depth = 4
      val raw = lineitem(s, d).select(col("l_partkey").cast("string").as("k"))
      val depths = explode(array((0 until depth).map(lit(_)): _*)).as("i")
      val cells = raw.select(col("k"), depths)
        .withColumn("b", pmod(graft.ops.Portable.md5Long(
          concat_ws(":", col("i"), col("k"))), lit(w.toLong)))
        .groupBy(col("i"), col("b")).agg(count(lit(1)).as("c"))
      val est = cells.groupBy(col("i"))
        .agg(sum(col("c") * col("c")).as("dot"))
        .agg(min(col("dot")).as("est_selfjoin"))
      val truth = raw.groupBy(col("k")).agg(count(lit(1)).as("f"))
        .agg(sum(col("f") * col("f")).as("true_selfjoin"))
      truth.crossJoin(broadcast(est))
        .select(col("true_selfjoin"), col("est_selfjoin"),
          (col("est_selfjoin") - col("true_selfjoin")).as("overcount"))
    }),

    // Stored-KLL rollup — quantiles join the sketch warehouse: binary
    // sketch per nation, kll_merge re-aggregates the STORED binaries to
    // a global row, kll_value reads medians off both. Exact regime
    // (n ≤ k=200 per sketch and after merge), so the INCLUSIVE quantile
    // is the item at 1-based position ⌈r·n⌉ — reproduced in the oracle
    // with a row_number window, making the whole rollup hash-green.
    "a23_kll_rollup" -> ((s, d) => {
      import org.apache.spark.sql.graft.KllStoreFns._
      val sup = supplier(s, d)
        .select(col("s_nationkey"), col("s_acctbal").cast("double").as("bal"))
      val per = sup.groupBy(col("s_nationkey")).agg(kllSketch(col("bal")).as("sk"))
        .localCheckpoint(true) // the "stored" sketch table — see a22
      val perOut = per.select(col("s_nationkey").cast("string").as("scope"),
        round(kllValue(col("sk"), lit(0.5)), 2).as("median_bal"))
      val all = per.agg(kllMerge(col("sk")).as("u"))
        .select(lit("ALL").as("scope"),
          round(kllValue(col("u"), lit(0.5)), 2).as("median_bal"))
      perOut.unionAll(all).orderBy(col("scope"))
    }),

    // Portable count-min twin: the SAME d×w estimator replayed
    // relationally with the md5 hash family (graft.ops.Portable), so
    // DuckDB reproduces every counter and every min() bit-for-bit —
    // deliberately small w=64 to exercise the collision/overcount path
    // deterministically. The cells relation is d·w ≤ 256 rows → broadcast.
    "a21b_cms_portable" -> ((s, d) => {
      val w = 64
      val depth = 4
      val raw = orders(s, d).select(col("o_custkey").cast("string").as("k"))
      val depths = explode(array((0 until depth).map(lit(_)): _*)).as("i")
      def bucket(): org.apache.spark.sql.Column =
        pmod(graft.ops.Portable.md5Long(
          concat_ws(":", col("i"), col("k"))), lit(w.toLong))
      val cells = raw.select(col("k"), depths)
        .withColumn("b", bucket())
        .groupBy(col("i"), col("b")).agg(count(lit(1)).as("c"))
      val keys = raw.groupBy(col("k")).agg(count(lit(1)).as("true_cnt"))
      keys.select(col("k"), col("true_cnt"), depths)
        .withColumn("b", bucket())
        .join(broadcast(cells), Seq("i", "b"))
        .groupBy(col("k"), col("true_cnt"))
        .agg(min(col("c")).as("est"))
        .select(col("k").cast("long").as("custkey"), col("true_cnt"), col("est"))
        .orderBy(col("custkey"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "s1_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "p1_cast_rename" ->
      """SELECT l_orderkey AS order_id, l_linenumber AS line_no,
        |  CAST(FLOOR(l_quantity) AS BIGINT) AS qty_long,
        |  SUBSTR(CAST(l_extendedprice AS VARCHAR), 1, 1) AS price_head
        |FROM lineitem ORDER BY order_id, line_no""".stripMargin,

    "p4_dup_report" ->
      """SELECT l_orderkey, l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM lineitem GROUP BY l_orderkey, l_partkey
        |HAVING COUNT(*) > 1 ORDER BY l_orderkey, l_partkey""".stripMargin,

    "p5_member_filter" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY') ORDER BY c_custkey""".stripMargin,

    "j1_join_agg" ->
      """SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(l_quantity), 2) AS qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "j2_join_dim" ->
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  ROUND(SUM(o_totalprice), 1) AS rev
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "j3_join_chain" ->
      """SELECT r_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 1) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "j4_semi_join" ->
      """SELECT c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "j5_anti_join" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "j6_outer_join" ->
      """SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "a1_distinct_union" ->
      """SELECT DISTINCT k FROM (
        |  SELECT c_nationkey AS k FROM customer
        |  UNION ALL SELECT s_nationkey AS k FROM supplier) t
        |ORDER BY k""".stripMargin,

    "a2_groupby_count" ->
      """SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS out_degree
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,

    "a3_groupby_collect" ->
      """SELECT l_orderkey,
        |  array_to_string(list_sort(list(l_linenumber)), ',') AS lines
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "a4_keyed_sum" ->
      """SELECT l_partkey, ROUND(SUM(l_quantity * (1 - l_discount)), 2) AS contrib
        |FROM lineitem GROUP BY l_partkey ORDER BY l_partkey""".stripMargin,

    "a5_global_stats" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |  ROUND(SUM(l_quantity), 1) AS sum_qty,
        |  ROUND(MIN(l_extendedprice), 2) AS min_price,
        |  ROUND(MAX(l_extendedprice), 2) AS max_price
        |FROM lineitem""".stripMargin,

    "a6_renormalize" ->
      """WITH rev AS (
        |  SELECT l_suppkey, SUM(l_extendedprice) AS r
        |  FROM lineitem GROUP BY l_suppkey)
        |SELECT l_suppkey, ROUND(r / SUM(r) OVER (), 6) AS share
        |FROM rev ORDER BY l_suppkey""".stripMargin,

    "a7_l1_delta" ->
      """WITH q AS (
        |  SELECT l_suppkey, SUM(l_quantity) AS qv FROM lineitem GROUP BY l_suppkey),
        |qs AS (SELECT l_suppkey, qv / SUM(qv) OVER () AS qs FROM q),
        |p AS (
        |  SELECT l_suppkey, SUM(l_extendedprice) AS pv FROM lineitem GROUP BY l_suppkey),
        |ps AS (SELECT l_suppkey AS sk, pv / SUM(pv) OVER () AS ps FROM p)
        |SELECT ROUND(SUM(ABS(qs - ps)), 6) AS l1
        |FROM qs JOIN ps ON l_suppkey = sk""".stripMargin,

    "o4_topk" ->
      """SELECT o_orderkey, o_totalprice FROM (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 100) t
        |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin,

    "w1_rank_window" ->
      """SELECT c_mktsegment, c_custkey, rnk FROM (
        |  SELECT c_mktsegment, c_custkey,
        |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |      ORDER BY c_acctbal DESC, c_custkey) AS rnk
        |  FROM customer) t
        |WHERE rnk <= 3 ORDER BY c_mktsegment, rnk""".stripMargin,

    "w2_analytics_window" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(DENSE_RANK() OVER w AS INT) AS seq,
        |  ROUND(COALESCE(LAG(o_totalprice, 1) OVER w, 0.0), 2) AS prev_price,
        |  CAST(NTILE(4) OVER w AS INT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "w4_topn_per_group" ->
      """SELECT s_nationkey, rk, s_suppkey, ROUND(s_acctbal, 2) AS acctbal
        |FROM (
        |  SELECT s_nationkey, s_suppkey, s_acctbal,
        |    CAST(ROW_NUMBER() OVER (
        |      PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey) AS INT) AS rk
        |  FROM supplier) t
        |WHERE rk <= 3
        |ORDER BY s_nationkey, rk""".stripMargin,

    "w3_distribution_window" ->
      """SELECT s_suppkey, s_nationkey,
        |  ROUND(PERCENT_RANK() OVER w, 6) AS pr,
        |  ROUND(CUME_DIST() OVER w, 6) AS cd
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
        |ORDER BY s_suppkey""".stripMargin,

    "w5_ntile" ->
      """SELECT c_custkey, c_mktsegment,
        |  CAST(NTILE(10) OVER (
        |    PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS INT)
        |    AS decile
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,

    "a19_mode" ->
      """WITH cnt AS (
        |  SELECT o_custkey, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_custkey, o_orderpriority AS mode_priority, c AS n
        |FROM (
        |  SELECT o_custkey, o_orderpriority, c,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY o_custkey ORDER BY c DESC, o_orderpriority) AS rn
        |  FROM cnt) t
        |WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,

    "a12_quantiles" ->
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
        |  ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "p3b_sample_portable" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE CAST('0x' || substr(md5(
        |    CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)),
        |  1, 15) AS BIGINT) % 10 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "u2_intersect" ->
      """SELECT k FROM (
        |  SELECT c_custkey AS k FROM customer
        |  INTERSECT SELECT o_custkey AS k FROM orders) t
        |ORDER BY k""".stripMargin,

    "u3_except" ->
      """SELECT k FROM (
        |  SELECT c_custkey AS k FROM customer
        |  EXCEPT SELECT o_custkey AS k FROM orders WHERE o_totalprice > 400000) t
        |ORDER BY k""".stripMargin,

    "f3_format_lines" ->
      """SELECT '[' || CAST(o_orderkey AS VARCHAR) || '] [' || o_orderstatus || ']' AS line
        |FROM orders ORDER BY o_orderkey LIMIT 1000""".stripMargin,

    "u4_intersect_all" ->
      """SELECT k, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |  SELECT l_suppkey AS k FROM lineitem
        |  INTERSECT ALL
        |  SELECT l_suppkey AS k FROM lineitem WHERE l_quantity > 25) t
        |GROUP BY k ORDER BY k""".stripMargin,

    "u5_except_all" ->
      """SELECT k, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |  SELECT l_suppkey AS k FROM lineitem
        |  EXCEPT ALL
        |  SELECT l_suppkey AS k FROM lineitem WHERE l_quantity > 25) t
        |GROUP BY k ORDER BY k""".stripMargin,

    "u6_unpivot" ->
      """WITH agg0 AS (
        |  SELECT c_nationkey,
        |    ROUND(MIN(c_acctbal), 2) AS min_bal,
        |    CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS cents,
        |    CAST(COUNT(*) AS BIGINT) AS cnt,
        |    ROUND(MAX(c_acctbal), 2) AS max_bal
        |  FROM customer GROUP BY c_nationkey),
        |wide AS (
        |  SELECT c_nationkey, min_bal,
        |    CAST(CASE WHEN cents >= 0 THEN (2 * cents + cnt) // (2 * cnt)
        |         ELSE -((2 * (-cents) + cnt) // (2 * cnt)) END AS DOUBLE)
        |      / 100.0 AS avg_bal,
        |    max_bal FROM agg0)
        |SELECT c_nationkey, metric, value FROM (
        |  SELECT c_nationkey, 'min_bal' AS metric, min_bal AS value FROM wide
        |  UNION ALL SELECT c_nationkey, 'avg_bal', avg_bal FROM wide
        |  UNION ALL SELECT c_nationkey, 'max_bal', max_bal FROM wide) t
        |ORDER BY c_nationkey, metric""".stripMargin,

    "f4_block_assign" ->
      """SELECT c_custkey,
        |  CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY c_custkey) - 1) / 100) AS BIGINT) AS block_id
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "a9_rollup" ->
      """SELECT c_mktsegment, c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(c_acctbal), 2) AS bal
        |FROM customer GROUP BY ROLLUP(c_mktsegment, c_nationkey)
        |ORDER BY c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST""".stripMargin,

    "a13_cube" ->
      """SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(l_quantity), 1) AS qty,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "a16_stats_corr" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |  ROUND(covar_pop(l_quantity, l_extendedprice), 2) AS covar_qp,
        |  ROUND(stddev_pop(l_quantity), 6) AS sd_qty,
        |  ROUND(stddev_samp(l_extendedprice), 4) AS sd_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "a14_grouping_sets" ->
      """SELECT c_mktsegment, c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(c_acctbal), 2) AS bal,
        |  CAST(GROUPING(c_mktsegment, c_nationkey) AS BIGINT) AS gid
        |FROM customer
        |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        |ORDER BY gid, c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST""".stripMargin,

    "a15_argmax" ->
      """SELECT o_custkey, o_orderkey AS top_order, ROUND(o_totalprice, 2) AS top_price
        |FROM orders
        |QUALIFY ROW_NUMBER() OVER (
        |  PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey DESC) = 1
        |ORDER BY o_custkey""".stripMargin,

    // Exact-regime theta sketches (lgK=16 > |customers| at every test sf)
    // ⇒ the estimates equal the true set cardinalities.
    "a20_theta_ops" ->
      """WITH a AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-07-01'),
        |b AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01')
        |SELECT
        |  CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_a,
        |  CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_b,
        |  CAST((SELECT COUNT(*) FROM (SELECT o_custkey FROM a
        |        UNION SELECT o_custkey FROM b)) AS BIGINT) AS n_union,
        |  CAST((SELECT COUNT(*) FROM (SELECT o_custkey FROM a
        |        INTERSECT SELECT o_custkey FROM b)) AS BIGINT) AS n_intersect,
        |  CAST((SELECT COUNT(*) FROM (SELECT o_custkey FROM a
        |        EXCEPT SELECT o_custkey FROM b)) AS BIGINT) AS n_a_not_b""".stripMargin,

    "a22_hll_rollup" ->
      """SELECT CAST(o_orderpriority AS VARCHAR) AS scope,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS apx_distinct
        |FROM orders GROUP BY 1
        |UNION ALL
        |SELECT 'ALL', CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
        |FROM orders
        |ORDER BY scope""".stripMargin,

    "a24_cms_selfjoin_est" ->
      """WITH raw AS (SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem),
        |h AS (
        |  SELECT k, i,
        |    CAST('0x' || substr(md5(i || ':' || k), 1, 15) AS BIGINT) % 2048 AS b
        |  FROM raw, UNNEST([0, 1, 2, 3]) AS u(i)),
        |cells AS (SELECT i, b, COUNT(*) AS c FROM h GROUP BY i, b),
        |est AS (
        |  SELECT MIN(dot) AS est_selfjoin FROM (
        |    SELECT i, CAST(SUM(c * c) AS BIGINT) AS dot FROM cells GROUP BY i)),
        |truth AS (
        |  SELECT CAST(SUM(f * f) AS BIGINT) AS true_selfjoin FROM (
        |    SELECT k, COUNT(*) AS f FROM raw GROUP BY k))
        |SELECT true_selfjoin, est_selfjoin,
        |  est_selfjoin - true_selfjoin AS overcount
        |FROM truth, est""".stripMargin,

    "a23_kll_rollup" ->
      """WITH b AS (
        |  SELECT CAST(s_nationkey AS VARCHAR) AS scope,
        |         CAST(s_acctbal AS DOUBLE) AS bal
        |  FROM supplier),
        |g AS (
        |  SELECT scope, bal,
        |    ROW_NUMBER() OVER (PARTITION BY scope ORDER BY bal) AS rn,
        |    COUNT(*) OVER (PARTITION BY scope) AS n
        |  FROM b),
        |per AS (
        |  SELECT scope, ROUND(bal, 2) AS median_bal FROM g
        |  WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)),
        |ga AS (
        |  SELECT bal, ROW_NUMBER() OVER (ORDER BY bal) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM b),
        |alla AS (
        |  SELECT 'ALL' AS scope, ROUND(bal, 2) AS median_bal FROM ga
        |  WHERE rn = CAST(ceil(0.5 * n) AS BIGINT))
        |SELECT scope, median_bal FROM per
        |UNION ALL SELECT scope, median_bal FROM alla
        |ORDER BY scope""".stripMargin,

    "a21b_cms_portable" ->
      """WITH raw AS (SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders),
        |h AS (
        |  SELECT k, i,
        |    CAST('0x' || substr(md5(i || ':' || k), 1, 15) AS BIGINT) % 64 AS b
        |  FROM raw, UNNEST([0, 1, 2, 3]) AS u(i)),
        |cells AS (SELECT i, b, COUNT(*) AS c FROM h GROUP BY i, b),
        |keys AS (SELECT k, COUNT(*) AS true_cnt FROM raw GROUP BY k),
        |probes AS (
        |  SELECT k, i,
        |    CAST('0x' || substr(md5(i || ':' || k), 1, 15) AS BIGINT) % 64 AS b
        |  FROM keys, UNNEST([0, 1, 2, 3]) AS u(i)),
        |est AS (
        |  SELECT p.k, MIN(c.c) AS est
        |  FROM probes p JOIN cells c ON p.i = c.i AND p.b = c.b
        |  GROUP BY p.k)
        |SELECT CAST(keys.k AS BIGINT) AS custkey, true_cnt, est.est AS est
        |FROM keys JOIN est ON keys.k = est.k
        |ORDER BY custkey""".stripMargin
  )
}
