package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.apache.spark.sql.functions._
import graft.ops.{AsOfJoin, RangeJoin}

/** ScalaCheck properties for the composed join operators: on random keyed
  * time-series, each must agree row-for-row with a naive in-memory
  * reference implementation of its semantics.
  */
object OpsProperties extends Properties("Ops") {
  private lazy val spark = TestSpark.spark
  import Prop.forAll

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  // (key, id, t) with duplicate times possible and ids unique.
  private val genRows: Gen[List[(String, Long, Long)]] = for {
    m <- Gen.choose(1, 40)
    rows <- Gen.listOfN(m, for {
      k <- Gen.oneOf("a", "b", "c")
      t <- Gen.choose(0L, 60L)
    } yield (k, t))
  } yield rows.zipWithIndex.map { case ((k, t), i) => (k, i.toLong + 1, t) }

  property("RangeJoin.bandPairs == naive band predicate") =
    forAll(genRows, Gen.choose(1L, 25L)) { (rows, band) =>
      import spark.implicits._
      val df = rows.toDF("k", "id", "t")
      val l = df.select(col("k"), col("id").as("ida"), col("t").as("ta"))
      val r = df.select(col("k"), col("id").as("idb"), col("t").as("tb"))
      val got = RangeJoin.bandPairs(l, r, "k", "ta", "tb", band)
        .select("ida", "idb").as[(Long, Long)].collect().toSet
      val want = (for {
        (ka, ida, ta) <- rows
        (kb, idb, tb) <- rows
        if ka == kb && tb > ta && tb <= ta + band
      } yield (ida, idb)).toSet
      got == want
    }

  // right rows: (k, t, v) with v unique per row.
  private val genRight: Gen[List[(String, Long, Long)]] = for {
    m <- Gen.choose(0, 20)
    rows <- Gen.listOfN(m, for {
      k <- Gen.oneOf("a", "b")
      t <- Gen.choose(0L, 60L)
    } yield (k, t))
  } yield rows.zipWithIndex.map { case ((k, t), i) => (k, t, 100L + i) }

  private val genLeft: Gen[List[(String, Long, Long)]] = for {
    m <- Gen.choose(1, 20)
    rows <- Gen.listOfN(m, for {
      k <- Gen.oneOf("a", "b")
      t <- Gen.choose(0L, 60L)
    } yield (k, t))
  } yield rows.zipWithIndex.map { case ((k, t), i) => (k, i.toLong + 1, t) }

  private def naiveAsOf(
      left: List[(String, Long, Long)], // (k, id, t)
      right: List[(String, Long, Long)], // (k, t, v)
      forward: Boolean,
      tol: Option[Long]): Map[Long, Option[Long]] =
    left.map { case (k, id, t) =>
      val cands = right.filter { case (rk, rt, _) =>
        rk == k && (if (forward) rt >= t else rt <= t) &&
          tol.forall(x => (if (forward) rt - t else t - rt) <= x)
      }
      val best = if (cands.isEmpty) None
      else {
        // nearest t first; among equal t the largest v wins
        val nearest = if (forward) cands.map(_._2).min else cands.map(_._2).max
        Some(cands.filter(_._2 == nearest).map(_._3).max)
      }
      id -> best
    }.toMap

  property("AsOfJoin == naive nearest lookup (both directions, ± tolerance)") =
    forAll(genLeft, genRight, Gen.oneOf(true, false),
      Gen.option(Gen.choose(0L, 30L))) { (lrows, rrows, forward, tol) =>
      import spark.implicits._
      val left = lrows.toDF("k", "id", "t")
      val right = rrows.toDF("k", "t", "v")
      val dir = if (forward) AsOfJoin.Forward else AsOfJoin.Backward
      val got = AsOfJoin.asOf(left, right, dir, tol)
        .collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toMap
      got == naiveAsOf(lrows, rrows, forward, tol)
    }

  property("p9 mixture: temperature formula exact on 3-source + 99%-skew fixtures") =
    {
      import spark.implicits._
      // Sizes with exact square roots so the hand computation is clean:
      // √(100,400,2500) = (10,20,50), Z = 80, and with the query's T = 100
      // the acceptance probs are (0.125, 0.0625, 0.025) by hand.
      def run(sizes: Map[String, Int]): (Map[String, Long], Map[String, Long]) = {
        val dir = java.nio.file.Files.createTempDirectory("p9fixture")
        try {
          val rows = sizes.toSeq.sortBy(_._1).flatMap { case (src, n) =>
            val base = src.hashCode.abs.toLong * 100000L
            (1 to n).map(i => (base + i, s"text $i", "en", src, 10L))
          }
          val docs = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
          docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
          val got = SparkEntry.queries("p9_mixture_sample")(spark, dir.toString)
            .groupBy(col("source")).count()
            .as[(String, Long)].collect().toMap
          // Expected: the EXACT accepted count under the hand-computed
          // per-source threshold (same md5 draw the query uses — the
          // formula, T·√n_s/Z/n_s, is recomputed here from first
          // principles, not read back from the query).
          val z = sizes.values.map(n => math.sqrt(n.toDouble)).sum
          val u = graft.ops.Portable.md5Long(col("doc_id").cast("string")) % 1000000
          val want = sizes.keys.map { src =>
            val n = sizes(src).toDouble
            val p = math.min(1.0, 100.0 * math.sqrt(n) / z / n)
            src -> docs.filter(col("source") === src)
              .filter(u.cast("double") < p * 1000000.0).count()
          }.toMap.filter(_._2 > 0)
          (got, want)
        } finally {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
            .foreach(f => java.nio.file.Files.deleteIfExists(f))
        }
      }

      // 3-source fixture: thresholds must be the hand values exactly.
      assert(100.0 * 10.0 / 80.0 / 100.0 == 0.125)
      assert(100.0 * 20.0 / 80.0 / 400.0 == 0.0625)
      val (got3, want3) = run(Map("A" -> 100, "B" -> 400, "C" -> 2500))
      // Skew fixture: X is 99% of the corpus (6400 vs 64; √ = 80 vs 8).
      // The α=0.5 temperature identity: per-doc acceptance upweight of the
      // small source is exactly √(n_X/n_Y) = 10.
      val pX = 100.0 * 80.0 / 88.0 / 6400.0
      val pY = 100.0 * 8.0 / 88.0 / 64.0
      assert(math.abs(pY / pX - 10.0) < 1e-12, s"upweight=${pY / pX}")
      val (gotS, wantS) = run(Map("X" -> 6400, "Y" -> 64))
      (Prop(got3 == want3) :| s"3src got=$got3 want=$want3") &&
        (Prop(got3.keySet == Set("A", "B", "C")) :| s"empty source in $got3") &&
        (Prop(gotS == wantS) :| s"skew got=$gotS want=$wantS") &&
        (Prop(gotS.keySet == Set("X", "Y")) :| s"empty source in $gotS")
    }

  property("jaccardPairsPrefix == jaccardPairs on random corpora and thresholds") =
    forAll(
      Gen.choose(6, 16).flatMap(n => Gen.listOfN(n,
        Gen.choose(3, 10).flatMap(m => Gen.listOfN(m, Gen.oneOf(
          "alpha", "beta", "gamma", "delta", "eps", "zeta"))))),
      Gen.oneOf(0.25, 0.4, 0.5, 0.6, 0.75, 0.8, 0.9)) { (texts, t) =>
      import spark.implicits._
      val docs = texts.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      def key(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val full = key(graft.dedup.Dedup.jaccardPairs(docs, "doc_id", "text", 2, t))
      val pref = key(graft.dedup.Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 2, t))
      Prop(pref == full) :|
        s"t=$t missing=${(full -- pref).take(3)} extra=${(pref -- full).take(3)}"
    }

  property("builtin session_window groups == island sessionization on random events") =
    forAll(
      Gen.choose(4, 25).flatMap(n => Gen.listOfN(n, Gen.zip(
        Gen.choose(1L, 3L), Gen.choose(0L, 400L)))),
      Gen.choose(10L, 120L)) { (evs, gapSec) =>
      import spark.implicits._
      val fixture = evs.zipWithIndex.map { case ((u, sec), i) =>
        graft.streaming.Streams.Event(i.toLong + 1,
          new java.sql.Timestamp(1700000000000L + sec * 1000L), u, "e", 1.0)
      }
      val gapMs = gapSec * 1000L
      val builtin = graft.streaming.Streams
        .sessionWindows(fixture.toDF(), gapMs)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val island = graft.streaming.Streams
        .sessionizeBatch(fixture.toDS(), gapMs)
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2)))
        .toSet
      Prop(builtin == island) :|
        s"gap=${gapMs}ms builtin=$builtin island=$island"
    }

  property("RandomWalks.walk == md5-reference walk on random graphs") =
    forAll(
      Gen.choose(4, 12).flatMap(nv => Gen.choose(nv, 3 * nv).flatMap(ne =>
        Gen.listOfN(ne, Gen.zip(Gen.choose(0, nv - 1), Gen.choose(0, nv - 1))))),
      Gen.choose(1, 4)) { (rawEdges, steps) =>
      import spark.implicits._
      val edges = rawEdges.map { case (a, b) => (s"v$a", s"v$b") }
      val seedIds = edges.map(_._1).distinct.sorted.take(3)
      val got = graft.graph.RandomWalks
        .walk(edges.toDF("src", "dst"), seedIds.toDF("id"), steps)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
      def md5Long(s: String): Long = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8"))
        java.lang.Long.parseLong(
          d.map(b => f"$b%02x").mkString.substring(0, 15), 16)
      }
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val ok = seedIds.forall { seed =>
        val w = s"$seed#0"
        var cur = seed
        val expected = scala.collection.mutable.ArrayBuffer(seed)
        var j = 1
        var live = true
        while (j <= steps && live) {
          adj.get(cur) match {
            case Some(ns) =>
              cur = ns.minBy(d => (md5Long(s"$w:$j:$cur:$d"), d))
              expected += cur
            case None => live = false
          }
          j += 1
        }
        got(w) == expected.toSeq
      }
      Prop(ok) :| s"walk divergence: got=$got"
    }
}
