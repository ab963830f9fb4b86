package perfbench

import java.nio.file.{Files, Path}

import perfbench.Checks._

/** Self-tests of the benchmark itself (no Spark): inputs are a pure
  * function of the seed, and every output check rejects a perturbed
  * result while accepting the correct one.
  *
  *   python3 perfbench/run.py --selftest
  */
object SelfTest {
  private var failures = 0

  private def expect(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Exception => println(s"selftest error $name: $e"); false }
    println(s"selftest ${if (passed) "ok  " else "FAIL"} $name")
    if (!passed) failures += 1
  }

  private def rejects(name: String)(problems: => Seq[String]): Unit = expect(s"rejects $name")(problems.nonEmpty)

  private def bytes(dir: Path): Map[String, Seq[Byte]] = {
    val files = Files.list(dir)
    try files.toArray.map(_.asInstanceOf[Path])
      .map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq).toMap
    finally files.close()
  }

  def main(args: Array[String]): Unit = {
    val tmp = Files.createTempDirectory("perfbench-selftest")
    try run(tmp) finally Dirs.rmTree(tmp)
    println(s"selftest ${if (failures == 0) "passed" else s"$failures failed"}")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def run(tmp: Path): Unit = {
    // Inputs: byte-identical for a seed, different for another seed.
    val gens: Seq[(String, (Long, Path) => Unit)] = Seq(
      "graph" -> ((s, d) => Inputs.writeGraph(s, d)),
      "baskets" -> ((s, d) => Inputs.writeBaskets(s, d)),
      "docs" -> ((s, d) => Inputs.writeDocs(s, d)))
    gens.foreach { case (name, gen) =>
      val dirs = Seq("a" -> 7L, "b" -> 7L, "c" -> 8L).map { case (tag, seed) =>
        val d = Files.createDirectories(tmp.resolve(s"$name-$tag"))
        gen(seed, d)
        bytes(d)
      }
      expect(s"$name inputs repeat for a seed")(dirs(0) == dirs(1) && dirs(0).values.forall(_.nonEmpty))
      expect(s"$name inputs differ across seeds")(dirs(0) != dirs(2))
    }

    // pagerank_pipeline: the reference passes its own result; perturbations fail.
    val g = Files.createDirectories(tmp.resolve("pr"))
    Inputs.writeGraph(3, g, Inputs.GraphShape(vertices = 2000, edges = 20000, srcSkew = 0.6, dstSkew = 1.0))
    val pr = pageRankRef(g.resolve("edges.txt"), 0.85, 1e-5, 100, 100)
    val top = pr.top
    expect("pagerank reference accepts itself")(checkPageRank(pr, top, pr.iterations).isEmpty)
    val far = top.indices.find(i => math.abs(top(i).score - top(0).score) > 1e-6).get
    rejects("pagerank swapped ranks")(checkPageRank(pr, top.updated(0, top(far)).updated(far, top(0)), pr.iterations))
    rejects("pagerank score off by 1e-6")(checkPageRank(pr, top.updated(5, top(5).copy(score = top(5).score + 1e-6)), pr.iterations))
    rejects("pagerank iteration count")(checkPageRank(pr, top, pr.iterations + 1))
    rejects("pagerank short top-k")(checkPageRank(pr, top.init, pr.iterations))
    rejects("pagerank unknown page")(checkPageRank(pr, top.updated(9, top(9).copy(id = -1L)), pr.iterations))

    // triangle_census
    val b = Files.createDirectories(tmp.resolve("tri"))
    Inputs.writeBaskets(3, b, Inputs.BasketShape(baskets = 500, items = 300, minSize = 2, maxSize = 6, skew = 0.8))
    val c = censusRef(b.resolve("baskets.tsv"))
    expect("census reference has triangles")(c.triangles > 0 && c.wedges > c.triangles)
    expect("census reference accepts itself")(checkCensus(c, c, c.vertices, 3 * c.triangles).isEmpty)
    rejects("census triangle count")(checkCensus(c, c.copy(triangles = c.triangles + 1), c.vertices, 3 * c.triangles))
    rejects("census wedge count")(checkCensus(c, c.copy(wedges = c.wedges - 1), c.vertices, 3 * c.triangles))
    rejects("census transitivity")(checkCensus(c, c.copy(transitivity = c.transitivity + 1e-6), c.vertices, 3 * c.triangles))
    rejects("local clustering corner sum")(checkCensus(c, c, c.vertices, 3 * c.triangles + 1))
    rejects("local clustering vertex count")(checkCensus(c, c, c.vertices - 1, 3 * c.triangles))

    // release_increment
    def r(id: Long, split: String = "train") = Released(id, id, split, s"text $id")
    val arrived = IndexedSeq(Set(1L, 2L, 3L), Set(4L, 5L))
    val returned = IndexedSeq(Seq(r(1), r(2)), Seq(r(4, "val")))
    val batch = Seq(r(1), r(2), r(4, "val"))
    expect("release invariants accept a consistent run")(
      checkRelease(arrived, returned, returned.flatten, batch).isEmpty)
    rejects("release id released twice")(
      checkRelease(arrived, IndexedSeq(Seq(r(1), r(2)), Seq(r(4), r(2))), Seq(r(1), r(2), r(4), r(2)), batch))
    rejects("release id from another batch")(
      checkRelease(arrived, IndexedSeq(Seq(r(1)), Seq(r(3))), Seq(r(1), r(3)), batch))
    rejects("release unknown split")(
      checkRelease(arrived, IndexedSeq(Seq(r(1), r(2, "dev")), Seq(r(4))), Seq(r(1), r(2, "dev"), r(4)), batch))
    rejects("release store differs from the returns")(
      checkRelease(arrived, returned, returned.flatten.tail, batch))
    rejects("release batch repeats an id")(checkRelease(arrived, returned, returned.flatten, batch :+ r(1)))
    val d = releaseDigest(returned, batch)
    expect("release digest ignores row order")(d == releaseDigest(returned.map(_.reverse), batch.reverse))
    rejects("release digest of another output")(checkDigest(Some(d), releaseDigest(returned, batch.init)))

    // Tracing arithmetic: idle time of a span between overlapping tasks.
    expect("driver gap counts time with no task running")(
      math.abs(Tracer.driverGapS(0, 1000, Seq((100L, 300L), (200L, 400L), (600L, 700L), (900L, 1500L))) - 0.5) < 1e-12)
  }
}
