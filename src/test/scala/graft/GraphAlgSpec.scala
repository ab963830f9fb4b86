package graft

import org.apache.spark.sql.functions._
import graft.graph.{Hits, PageRank}

/** Semantics of the round-5 iterative operators: personalized PageRank
  * (teleport concentrated on a seed set) and HITS (hubs/authorities).
  */
class GraphAlgSpec extends SparkSpec {
  import spark.implicits._

  test("random walks: valid transitions, full length, deterministic, dead-end stops") {
    import graft.graph.RandomWalks
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a"))
      .toDF("src", "dst")
    val seeds = Seq("a", "d", "z").toDF("id") // z is isolated: walk of length 0
    def run() = RandomWalks.walk(edges, seeds, steps = 3, nWalks = 2)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    val w1 = run()
    assert(w1.toSeq == run().toSeq, "walks must be deterministic across runs")
    val byWalk =
      w1.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(byWalk.keySet ==
      Set("a#0", "a#1", "d#0", "d#1", "z#0", "z#1"))
    // z has no out-edges: its walks stop at step 0.
    assert(byWalk("z#0") == Seq("z") && byWalk("z#1") == Seq("z"))
    // every a/d walk runs the full 4 nodes and every hop follows an edge
    val edgeSet = Set("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c", "d" -> "a")
    Seq("a#0", "a#1", "d#0", "d#1").foreach { w =>
      val path = byWalk(w)
      assert(path.length == 4, s"$w stopped early: $path")
      path.sliding(2).foreach { hop =>
        assert(edgeSet(hop(0) -> hop(1)),
          s"$w took a non-edge ${hop(0)}->${hop(1)} in $path")
      }
    }
    // Pin the portable-hash contract: an independent reference walk
    // (MessageDigest md5, same "walkId:step:cur:dst" spelling, argmin
    // with dst tie-break) must reproduce every path exactly. This is
    // what keeps the Spark plan and the DuckDB oracle in lockstep.
    def md5Long(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map(b => f"$b%02x").mkString.substring(0, 15), 16)
    }
    val adj = edgeSet.toSeq.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    Seq("a#0", "a#1", "d#0", "d#1").foreach { w =>
      val seed = w.takeWhile(_ != '#')
      val expected = (1 to 3).scanLeft(seed) { (cur, j) =>
        adj.get(cur).map(_.minBy(d => (md5Long(s"$w:$j:$cur:$d"), d)))
          .getOrElse(cur)
      }
      assert(byWalk(w) == expected,
        s"$w diverged from the md5 reference: got ${byWalk(w)}, want $expected")
    }
  }

  test("biased walks: md5-replica reference parity, forced return, bias is active") {
    import graft.graph.RandomWalks
    def md5Long(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map(b => f"$b%02x").mkString.substring(0, 15), 16)
    }
    // Degenerate mechanics: on the single undirected edge a-b every step
    // after the first is a forced RETURN, whatever the weights are.
    val path = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val pw = RandomWalks.walkBiased(path, Seq("a").toDF("id"), steps = 4)
      .collect().map(_.getString(2)).toSeq
    assert(pw == Seq("a", "b", "a", "b", "a"), pw)

    // Reference parity on a denser graph: an independent implementation
    // of the replica-argmin sampler (draw "walk:step:cur:dst:r", argmin
    // with (dst, r) tie-break) must reproduce every transition — the same
    // lockstep contract the uniform-walk test pins, extended with
    // prev-dependent weights. Checked at the shipped weight classes
    // (1, 2, 4) and at a non-default set, so every weight arm is pinned;
    // e has no out-edge, so walks reaching it must stop early.
    val edgeSet = Set("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c",
      "d" -> "a", "c" -> "d", "b" -> "a", "a" -> "d", "d" -> "e")
    val edges = edgeSet.toSeq.toDF("src", "dst")
    val seeds = Seq("a", "b", "c", "d").toDF("id")
    val adj = edgeSet.toSeq.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def checked(retW: Int, inW: Int, outW: Int): Map[String, Seq[String]] = {
      val byWalk = RandomWalks.walkBiased(edges, seeds, steps = 5, nWalks = 2,
          retW = retW, inW = inW, outW = outW)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
      byWalk.keys.foreach { w =>
        var prev: Option[String] = None
        var cur = w.takeWhile(_ != '#')
        val expected = Seq(cur) ++ (1 to 5).flatMap { j =>
          adj.get(cur) match {
            case None => None
            case Some(ns) =>
              val picked = ns.flatMap { d =>
                val wgt =
                  if (prev.isEmpty) 1
                  else if (prev.contains(d)) retW
                  else if (edgeSet(prev.get -> d)) inW
                  else outW
                (1 to wgt).map(r => ((md5Long(s"$w:$j:$cur:$d:$r"), d, r), d))
              }.minBy(_._1)._2
              prev = Some(cur); cur = picked
              Some(picked)
          }
        }
        assert(byWalk(w) == expected, s"$w diverged from the biased md5 " +
          s"reference at ($retW, $inW, $outW): got ${byWalk(w)}, want $expected")
      }
      byWalk
    }
    val got = checked(1, 2, 4)
    checked(3, 1, 5)
    // The bias must actually change something vs the uniform walk on
    // this graph (different draws AND different weights).
    val uni = RandomWalks.walk(edges, seeds, steps = 5, nWalks = 2)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(got != uni, "biased walk identical to uniform — bias inactive?")
  }

  test("biased walk: edge multiplicity changes nothing (argmin duplicate-insensitivity)") {
    import graft.graph.RandomWalks
    // Pins the r18 adjacency-probe restructure's core claim: the per-step
    // argmin is duplicate-insensitive — identical candidate/adjacency rows
    // explode into IDENTICAL (dst, r) md5 draws, so parallel edges (which
    // now multiply the un-deduped prev-neighborhood probe as well as the
    // candidate stream) cannot change any pick. A graph with duplicated
    // edges must produce bit-identical walks to its deduped twin.
    val base = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a"),
      ("c", "d"), ("b", "a"), ("a", "d"))
    val dup = (base ++ base ++ base.take(3)).toDF("src", "dst")
    val ded = base.toDF("src", "dst")
    val seeds = Seq("a", "b", "c", "d").toDF("id")
    def runOn(e: org.apache.spark.sql.DataFrame) =
      RandomWalks.walkBiased(e, seeds, steps = 5, nWalks = 2)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq
    val a = runOn(dup)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val b = runOn(ded)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(a == b, s"duplicate edges changed the walks: ${a.diff(b).take(5)}")
  }

  test("personalized PR with S = V equals uniform fixed-iteration PR") {
    val edges = Seq((1, 2), (2, 3), (3, 1), (1, 3), (4, 1)).toDF("src", "dst")
    val allIds = Seq(1, 2, 3, 4).toDF("id")
    val uniform = PageRank.fixedIterations(spark, edges, 0.85, 4)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val personal = PageRank.personalizedFixedIterations(spark, edges, allIds, 0.85, 4)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(uniform.keySet == personal.keySet)
    uniform.foreach { case (id, r) => assert(math.abs(r - personal(id)) < 1e-12) }
  }

  test("personalized PR concentrates mass around the seed") {
    // Two disconnected 2-cycles; seeding only {1} must leave {3,4} at 0.
    val edges = Seq((1, 2), (2, 1), (3, 4), (4, 3)).toDF("src", "dst")
    val ranks = PageRank.personalizedFixedIterations(
      spark, edges, Seq(1).toDF("id"), 0.85, 6)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(ranks(1) > ranks(2) && ranks(2) > 0.25)
    assert(ranks(3) == 0.0 && ranks(4) == 0.0)
    // Mass conservation: this formula loses nothing on a dangling-free graph.
    assert(math.abs(ranks.values.sum - 1.0) < 1e-9)
  }

  test("personalized PR requires a seed inside the graph") {
    val edges = Seq((1, 2)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      PageRank.personalizedFixedIterations(spark, edges, Seq(99).toDF("id"), 0.85, 2)
    }
  }

  test("weighted PR with uniform weights equals unweighted fixed-iteration PR") {
    val edges = Seq((1, 2), (2, 3), (3, 1), (1, 3), (4, 1)).toDF("src", "dst")
    val weighted = edges.withColumn("w", lit(7.0)) // any constant: fracs = 1/deg
    val uniform = PageRank.fixedIterations(spark, edges, 0.85, 4)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val got = PageRank.weightedFixedIterations(spark, weighted, 0.85, 4)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(uniform.keySet == got.keySet)
    uniform.foreach { case (id, r) => assert(math.abs(r - got(id)) < 1e-12) }
  }

  test("weighted PR rejects null/zero/negative weights instead of dropping them") {
    val edges = Seq((1, 2, 1.0), (2, 1, 0.0)).toDF("src", "dst", "w")
    val err = intercept[IllegalArgumentException] {
      PageRank.weightedFixedIterations(spark, edges, 0.85, 2)
    }
    assert(err.getMessage.contains("weight"))
  }

  test("weighted PR routes rank along the heavy edge") {
    // 1 splits 9:1 between 2 and 3; 2 and 3 cycle back. Vertex 2 must
    // end strictly above vertex 3.
    val edges = Seq(
      (1, 2, 9.0), (1, 3, 1.0), (2, 1, 1.0), (3, 1, 1.0)
    ).toDF("src", "dst", "w")
    val got = PageRank.weightedFixedIterations(spark, edges, 0.85, 8)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(got(2) > got(3) * 2)
    assert(math.abs(got.values.sum - 1.0) < 1e-9) // dangling-free: mass conserved
  }

  test("weighted PR: a malformed edge file fails the run without leaking a persist") {
    val path = edgeFile("1\t2\t1.0", "2\t3\tnot_a_number", "3\t1\t1.0")
    val in = spark.read.schema("src LONG, dst LONG, w DOUBLE")
      .option("delimiter", "\t").option("mode", "FAILFAST").csv(path)
    spark.catalog.clearCache()
    val before = RddScope.persisted(spark)
    intercept[org.apache.spark.SparkException](
      PageRank.weightedFixedIterations(spark, in, 0.85, 2))
    assert(noCachedPlans, "the weighted edges' persist outlived the throw")
    assert(RddScope.persisted(spark) == before)
  }

  test("HITS: a malformed edge file fails the run without leaking a persist") {
    val in = PageRank.edgesFromText(spark, edgeFile("1\t2", "3\tnot_a_number", "4\t5"))
    spark.catalog.clearCache()
    val before = RddScope.persisted(spark)
    intercept[org.apache.spark.SparkException](Hits.fixedIterations(spark, in, 3))
    assert(noCachedPlans, "the deduped edges' persist outlived the throw")
    assert(RddScope.persisted(spark) == before)
  }

  test("HITS: two hubs, one authority") {
    // 1→3 and 2→3: vertex 3 is the sole authority, 1 and 2 split hub
    // mass evenly; 3 has no out-edges so its hub score is 0.
    val edges = Seq((1, 3), (2, 3)).toDF("src", "dst")
    val out = Hits.fixedIterations(spark, edges, 3)
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(math.abs(out(3)._1 - 1.0) < 1e-12) // authority(3) = 1
    assert(out(3)._2 == 0.0)
    assert(math.abs(out(1)._2 - 0.5) < 1e-12 && math.abs(out(2)._2 - 0.5) < 1e-12)
    assert(out(1)._1 == 0.0 && out(2)._1 == 0.0)
  }

  test("HITS scores are L1-normalized each iteration") {
    val edges = Seq((1, 2), (2, 3), (3, 1), (1, 3), (2, 1)).toDF("src", "dst")
    val out = Hits.fixedIterations(spark, edges, 4).collect()
    val aSum = out.map(_.getDouble(1)).sum
    val hSum = out.map(_.getDouble(2)).sum
    assert(math.abs(aSum - 1.0) < 1e-9 && math.abs(hSum - 1.0) < 1e-9)
  }

  test("iterative helpers leave only their result backings persisted") {
    // Shared test session: clear residue from earlier tests' checkpointed
    // results first, so the count below attributes blocks to THESE calls.
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val edges = Seq((1, 2), (2, 3), (3, 1)).toDF("src", "dst")
    val h = Hits.fixedIterations(spark, edges, 2)
    val p = PageRank.personalizedFixedIterations(spark, edges, Seq(1).toDF("id"), 0.85, 2)
    h.count(); p.count()
    // The returned frames are checkpoint-backed by design (one block
    // each); every intermediate (edge copies, vertex relations, per-
    // iteration checkpoints) must already be freed.
    val leaked = spark.sparkContext.getPersistentRDDs.keySet
    assert(leaked.size <= 2, s"leaked persistent RDDs: $leaked")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
