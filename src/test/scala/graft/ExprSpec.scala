package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CosineSimilarityExpr
import graft.sim.Similarity

/** Custom Catalyst surface: native cosine expression (interpreted + codegen
  * + SQL registration).
  */
class ExprSpec extends SparkSpec {
  import spark.implicits._

  test("native cosine matches builtin composition bitwise on sf0.001 embeddings") {
    val v = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
      .limit(100)
    val a = v.select(col("vec_id").as("ida"), col("v").as("va"))
    val b = v.select(col("vec_id").as("idb"), col("v").as("vb"))
    val pairs = a.crossJoin(b).filter(col("ida") < col("idb"))
    val diffs = pairs.select(
        Similarity.cosine(col("va"), col("vb")).as("native"),
        Similarity.cosineBuiltins(col("va"), col("vb")).as("builtin"))
      .filter(col("native") =!= col("builtin"))
      .count()
    assert(diffs == 0, s"$diffs pairs differ between native and builtin cosine")
  }

  test("native cosine known values") {
    val df = Seq(
      (Array(1.0, 0.0), Array(1.0, 0.0), 1.0),
      (Array(3.0, 4.0), Array(3.0, 4.0), 1.0),
      (Array(1.0, 0.0), Array(0.0, 2.0), 0.0))
      .toDF("a", "b", "expected")
    df.select(Similarity.cosine(col("a"), col("b")).as("got"), col("expected"))
      .collect().foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-15))
  }

  test("cosine_sim registered as SQL function") {
    CosineSimilarityExpr.register(spark)
    val got = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c")
      .collect().head.getDouble(0)
    assert(math.abs(got - 1.0) < 1e-15)
  }

  test("GraftExtensions SQL surface: misra_gries/kll_quantiles/arity via withExtensions session") {
    // Exercise the REAL injection route: a session built with
    // .withExtensions(new GraftExtensions) sharing the test SparkContext,
    // driving the injected SQL builders (arity guard, decimal ranks
    // conversion) through spark.sql — the cluster-deployment path, in CI
    // rather than only by hand.
    val base = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val ext = org.apache.spark.sql.SparkSession.builder()
        .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
        .getOrCreate() // reuses the existing SparkContext; new sessionState
      val hh = ext.sql(
        """SELECT e.term, e.apx
          |FROM (SELECT explode(misra_gries(t, 8)) AS e
          |      FROM VALUES ('a'),('b'),('a'),('a'),('c') AS v(t))""".stripMargin)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(hh == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
      // Plain fractional literal → array<decimal> ranks: the elementwise
      // Decimal conversion in the builder is the code under test.
      val med = ext.sql(
        "SELECT kll_quantiles(v, array(0.5)) AS q FROM VALUES (1.0d),(2.0d),(3.0d) AS t(v)")
        .collect().head.getSeq[Double](0).head
      assert(med == 2.0, s"kll median over {1,2,3} was $med")
      // Wrong arity must surface the builder's NAMED error.
      val err = intercept[Exception] {
        ext.sql("SELECT misra_gries(t) FROM VALUES ('a') AS v(t)").collect()
      }
      assert(err.getMessage.contains("misra_gries expects 2"),
        s"unexpected arity error: ${err.getMessage}")
      // bloom_agg + bloom_contains round-trip through pure SQL (the
      // scalar-subquery build plan d12 uses): true members always pass,
      // and at 8192 bits / 3 keys the non-members here are (deterministic
      // xxhash64 family) observed FP-free.
      val bloomHits = ext.sql(
        """SELECT s FROM VALUES ('k1'),('k2'),('p1'),('p2'),('p3') AS probe(s)
          |WHERE bloom_contains(
          |  (SELECT bloom_agg(s, 100L, 8192L)
          |   FROM VALUES ('k1'),('k2'),('k3') AS keys(s)), s)
          |ORDER BY s""".stripMargin)
        .collect().map(_.getString(0)).toSet
      assert(Set("k1", "k2").subsetOf(bloomHits), s"bloom lost a true member: $bloomHits")
      assert(bloomHits.subsetOf(Set("k1", "k2", "p1", "p2", "p3")))
      val bloomErr = intercept[Exception] {
        ext.sql("SELECT bloom_contains(cast(null as binary)) ").collect()
      }
      assert(bloomErr.getMessage.contains("bloom_contains expects 2"),
        s"unexpected bloom arity error: ${bloomErr.getMessage}")
      // Theta set-algebra family end-to-end through SQL (exact regime, so
      // the estimates are the true cardinalities): A={1..4}, B={3,4,5}.
      val theta = ext.sql(
        """SELECT round(theta_estimate(sa)) AS na,
          |  round(theta_intersect_est(sa, sb)) AS ni,
          |  round(theta_anotb_est(sa, sb)) AS nd,
          |  round(theta_union_est(sa, sb)) AS nu
          |FROM (SELECT theta_sketch(v) AS sa FROM VALUES (1),(2),(3),(4) AS a(v)),
          |     (SELECT theta_sketch(v) AS sb FROM VALUES (3),(4),(5) AS b(v))"""
          .stripMargin).collect().head
      assert((theta.getDouble(0), theta.getDouble(1), theta.getDouble(2),
        theta.getDouble(3)) == ((4.0, 2.0, 2.0, 5.0)),
        s"theta SQL set ops returned $theta")
      val thetaErr = intercept[Exception] {
        ext.sql("SELECT theta_sketch(v, 12, 9) FROM VALUES (1) AS t(v)").collect()
      }
      assert(thetaErr.getMessage.contains("theta_sketch expects 1 or 2"),
        s"unexpected theta arity error: ${thetaErr.getMessage}")
      // cms_estimate reads Spark's own count_min_sketch binary through
      // SQL; collision-free at this size, so estimates are exact.
      val cms = ext.sql(
        """SELECT cms_estimate(s, CAST(7 AS BIGINT)) AS e7,
          |  cms_estimate(s, CAST(9 AS BIGINT)) AS e9
          |FROM (SELECT count_min_sketch(v, 0.001d, 0.99d, 42) AS s
          |      FROM VALUES (7L),(7L),(7L),(9L) AS t(v))""".stripMargin)
        .collect().head
      assert((cms.getLong(0), cms.getLong(1)) == ((3L, 1L)),
        s"cms_estimate SQL returned $cms")
      val cmsErr = intercept[Exception] {
        ext.sql("SELECT cms_estimate(cast(null as binary))").collect()
      }
      assert(cmsErr.getMessage.contains("cms_estimate expects 2"),
        s"unexpected cms arity error: ${cmsErr.getMessage}")
      // Stored-KLL family end-to-end through SQL: per-group binaries →
      // kll_merge → kll_value (exact regime: median of {1..5} = 3, of
      // {1..10} = 5 under the INCLUSIVE ⌈r·n⌉ convention).
      val kll = ext.sql(
        """SELECT kll_value(kll_merge(sk), 0.5d) AS m_all,
          |  min(m_per) AS m_low
          |FROM (SELECT g, kll_sketch(v) AS sk,
          |        kll_value(kll_sketch(v), 0.5d) AS m_per
          |      FROM VALUES (0, 1.0d),(0, 2.0d),(0, 3.0d),(0, 4.0d),(0, 5.0d),
          |        (1, 6.0d),(1, 7.0d),(1, 8.0d),(1, 9.0d),(1, 10.0d) AS t(g, v)
          |      GROUP BY g)""".stripMargin).collect().head
      assert((kll.getDouble(0), kll.getDouble(1)) == ((5.0, 3.0)),
        s"kll SQL rollup returned $kll")
      val kllErr = intercept[Exception] {
        ext.sql("SELECT kll_value(cast(null as binary))").collect()
      }
      assert(kllErr.getMessage.contains("kll_value expects 2"),
        s"unexpected kll arity error: ${kllErr.getMessage}")
      // Non-literal k must fail with the NAMED planning error, not an
      // unbound-attribute internal one (r9 intLit guard).
      val kllKErr = intercept[Exception] {
        ext.sql("SELECT kll_sketch(v, cast(v as int)) FROM VALUES (1.0d) AS t(v)")
          .collect()
      }
      assert(kllKErr.getMessage.contains("kll_sketch: k must be an integer literal"),
        s"unexpected non-literal-k error: ${kllKErr.getMessage}")
      // Integers implicit-cast to double (analysis-time coercion) …
      val kllInt = ext.sql(
        "SELECT kll_value(kll_sketch(v), 0.5d) FROM VALUES (1),(2),(3) AS t(v)")
        .collect().head.getDouble(0)
      assert(kllInt == 2.0, s"kll_sketch over ints gave $kllInt")
      // … while a non-numeric input fails AT ANALYSIS with a typed error
      // instead of a MatchError mid-task (r8 ADVICE: inputTypes).
      val kllTypeErr = intercept[org.apache.spark.sql.AnalysisException] {
        ext.sql("SELECT kll_sketch(current_timestamp()) FROM VALUES (1) AS t(v)")
          .collect()
      }
      assert(kllTypeErr.getMessage.toLowerCase.contains("mismatch") ||
        kllTypeErr.getMessage.contains("DOUBLE"),
        s"unexpected kll type error: ${kllTypeErr.getMessage}")
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
      org.apache.spark.sql.SparkSession.setActiveSession(base)
    }
  }

  test("misra_gries Column API heavy hitters") {
    import spark.implicits._
    val got = Seq("a", "b", "a", "a", "c").toDF("t")
      .agg(org.apache.spark.sql.graft.MisraGriesAgg.heavyHitters(col("t"), 8).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.term"), col("e.apx"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
  }

  test("misra_gries over a numeric key implicit-casts instead of crashing") {
    val got = Seq(7L, 7L, 8L, 7L).toDF("k")
      .agg(org.apache.spark.sql.graft.MisraGriesAgg.heavyHitters(col("k"), 4).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.term"), col("e.apx"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("7" -> 3L, "8" -> 1L))
  }

  test("bloom prefilter: no false negatives, FPs removed by exact confirm") {
    import org.apache.spark.sql.graft.BloomFns
    val keys = Seq("k1", "k2", "k3").toDF("s")
    val probe = (1 to 200).map(i => s"p$i").toDF("s").union(keys)
    val bloom = keys.agg(BloomFns.bloomAgg(col("s"), 100L, 8192L).as("bf"))
    val pre = probe
      .filter(BloomFns.mightContain(bloom, col("s")))
      .select(col("s"))
    // Every true member must survive the prefilter...
    val surviving = pre.collect().map(_.getString(0)).toSet
    assert(Set("k1", "k2", "k3").subsetOf(surviving))
    // ...and the exact confirm leaves exactly the true members.
    val confirmed = pre.join(keys.select(col("s").as("k")), col("s") === col("k"), "left_semi")
      .collect().map(_.getString(0)).toSet
    assert(confirmed == Set("k1", "k2", "k3"))
  }
}
