package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Single-threaded reference computations and the output checks that
  * compare the program against them. Checks are pure functions over plain
  * Scala values and return the list of problems found (empty = pass), so
  * the self-tests can feed them perturbed results.
  */
object Checks {

  val Tol = 1e-9

  // ---- pagerank_pipeline -------------------------------------------------

  final case class Ranked(id: Long, score: Double)
  final case class PageRankRef(top: IndexedSeq[Ranked], score: Map[Long, Double], iterations: Int)

  /** Dense 0.. indices for vertex ids, in first-seen order. */
  private final class Dense {
    private val index = scala.collection.mutable.HashMap[Long, Int]()
    val ids = scala.collection.mutable.ArrayBuffer[Long]()
    def apply(v: Long): Int = index.getOrElseUpdate(v, { ids += v; ids.size - 1 })
    def size: Int = ids.size
  }

  private def tsvPairs(p: Path): (Array[Long], Array[Long]) = {
    val lines = Files.readAllLines(p, UTF_8).asScala
    val a = new Array[Long](lines.size)
    val b = new Array[Long](lines.size)
    var i = 0
    lines.foreach { l =>
      val t = l.indexOf('\t')
      a(i) = l.substring(0, t).toLong
      b(i) = l.substring(t + 1).toLong
      i += 1
    }
    (a, b)
  }

  /** Power iteration with the reference's renormalising rule:
    * pre_i = β·Σ_{u→i} rank(u)/deg(u), s = Σ pre, rank'_i = pre_i + (1−s)/N,
    * until Σ|rank' − rank| ≤ δ.
    */
  def pageRankRef(edgeFile: Path, beta: Double, delta: Double, maxIter: Int, k: Int): PageRankRef = {
    val (rawSrc, rawDst) = tsvPairs(edgeFile)
    val index = new Dense
    val src = rawSrc.map(index(_))
    val dst = rawDst.map(index(_))
    val n = index.size
    val ids = index.ids.toArray
    val deg = new Array[Int](n)
    src.foreach(u => deg(u) += 1)
    var rank = Array.fill(n)(1.0 / n)
    var iter = 0
    var d = Double.MaxValue
    while (d > delta && iter < maxIter) {
      val pre = new Array[Double](n)
      var e = 0
      while (e < src.length) { pre(dst(e)) += rank(src(e)) / deg(src(e)); e += 1 }
      var s = 0.0
      var i = 0
      while (i < n) { pre(i) *= beta; s += pre(i); i += 1 }
      val corr = (1.0 - s) / n
      d = 0.0
      i = 0
      while (i < n) { pre(i) += corr; d += math.abs(pre(i) - rank(i)); i += 1 }
      rank = pre
      iter += 1
    }
    val order = (0 until n).sortBy(i => (-rank(i), ids(i)))
    PageRankRef(order.take(k).map(i => Ranked(ids(i), rank(i))).toIndexedSeq,
      (0 until n).iterator.map(i => ids(i) -> rank(i)).toMap, iter)
  }

  /** The top-k must list the reference's pages in its order, except that
    * pages whose reference scores lie within 1e-9 may swap; every score
    * must be within 1e-9 of the reference; the iteration count must match.
    */
  def checkPageRank(ref: PageRankRef, top: Seq[Ranked], iterations: Int): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (iterations != ref.iterations)
      errs += s"iterations $iterations, reference ${ref.iterations}"
    if (top.size != ref.top.size)
      errs += s"top-k has ${top.size} rows, reference ${ref.top.size}"
    if (top.map(_.id).distinct.size != top.size) errs += "top-k repeats a page"
    top.zip(ref.top).zipWithIndex.foreach { case ((got, want), i) =>
      ref.score.get(got.id) match {
        case None => errs += s"rank $i: page ${got.id} is not in the graph"
        case Some(s) =>
          if (math.abs(got.score - s) > Tol)
            errs += s"page ${got.id}: score ${got.score}, reference $s"
          if (math.abs(s - want.score) > Tol)
            errs += s"rank $i: page ${got.id} (reference ${s}) where the reference has ${want.id} (${want.score})"
      }
    }
    errs.result().take(5)
  }

  // ---- triangle_census ---------------------------------------------------

  final case class Census(vertices: Long, edges: Long, triangles: Long, wedges: Long, transitivity: Double)

  /** Exact census of the baskets' co-occurrence graph (items linked when
    * they share a basket): undirected dedup, then triangles counted once
    * each by orienting edges along the (degree, id) order.
    */
  def censusRef(basketFile: Path): Census = {
    val (baskets, items) = tsvPairs(basketFile)
    val index = new Dense
    val byBasket = new java.util.HashMap[Long, java.util.ArrayList[Long]]()
    var i = 0
    while (i < baskets.length) {
      byBasket.computeIfAbsent(baskets(i), _ => new java.util.ArrayList[Long]()).add(items(i))
      i += 1
    }
    val seen = new Inputs.LongSet(1 << 20)
    val ea = scala.collection.mutable.ArrayBuilder.make[Int]
    val eb = scala.collection.mutable.ArrayBuilder.make[Int]
    byBasket.values.forEach { its =>
      val xs = its.asScala.distinct.sorted
      for (x <- xs.indices; y <- x + 1 until xs.size) {
        val a = index(xs(x)); val b = index(xs(y))
        val (lo, hi) = if (a < b) (a, b) else (b, a)
        if (seen.add(lo.toLong << 32 | hi)) { ea += lo; eb += hi }
      }
    }
    val (as, bs) = (ea.result(), eb.result())
    val n = index.size
    val ids = index.ids.toArray
    val deg = new Array[Int](n)
    as.foreach(deg(_) += 1); bs.foreach(deg(_) += 1)
    def lower(u: Int, v: Int) = deg(u) < deg(v) || (deg(u) == deg(v) && ids(u) < ids(v))
    // Out-adjacency along the orientation, as CSR.
    val outDeg = new Array[Int](n)
    as.indices.foreach(e => outDeg(if (lower(as(e), bs(e))) as(e) else bs(e)) += 1)
    val start = outDeg.scanLeft(0)(_ + _)
    val fill = start.clone()
    val adj = new Array[Int](as.length)
    as.indices.foreach { e =>
      val (u, v) = if (lower(as(e), bs(e))) (as(e), bs(e)) else (bs(e), as(e))
      adj(fill(u)) = v; fill(u) += 1
    }
    val mark = Array.fill(n)(-1)
    var tri = 0L
    var u = 0
    while (u < n) {
      var j = start(u)
      while (j < start(u + 1)) { mark(adj(j)) = u; j += 1 }
      j = start(u)
      while (j < start(u + 1)) {
        val v = adj(j)
        var k = start(v)
        while (k < start(v + 1)) { if (mark(adj(k)) == u) tri += 1; k += 1 }
        j += 1
      }
      u += 1
    }
    val wedges = deg.iterator.map(d => d.toLong * (d - 1) / 2).sum
    val trans = if (wedges == 0) 0.0 else BigDecimal(3.0 * tri / wedges)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    Census(n, as.length, tri, wedges, trans)
  }

  /** The census must equal the exact count, and the per-vertex triangle
    * counts of the local clustering must sum to three per triangle.
    */
  def checkCensus(ref: Census, got: Census, localVertices: Long, localTriSum: Long): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (got.copy(transitivity = 0) != ref.copy(transitivity = 0)) errs += s"census $got, reference $ref"
    if (math.abs(got.transitivity - ref.transitivity) > Tol)
      errs += s"transitivity ${got.transitivity}, reference ${ref.transitivity}"
    if (localTriSum != 3 * ref.triangles)
      errs += s"local clustering sums to $localTriSum triangle corners, expected ${3 * ref.triangles}"
    if (localVertices != ref.vertices)
      errs += s"local clustering has $localVertices vertices, reference ${ref.vertices}"
    errs.result()
  }

  // ---- release_increment -------------------------------------------------

  final case class Released(docId: Long, repId: Long, split: String, text: String)
  val Splits = Set("train", "val", "test")

  /** `arrived(g)` holds the ids that arrived in generation g (0 = init),
    * `returned(g)` the rows that call released, `stored` the store's
    * `released` table afterwards and `batch` the one-shot batchRelease
    * over every arrived document.
    */
  def checkRelease(
      arrived: IndexedSeq[Set[Long]], returned: IndexedSeq[Seq[Released]],
      stored: Seq[Released], batch: Seq[Released]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val all = returned.flatten
    val twice = all.groupBy(_.docId).collect { case (id, rs) if rs.size > 1 => id }
    if (twice.nonEmpty) errs += s"released twice: ${twice.toSeq.sorted.take(5).mkString(",")}"
    returned.zipWithIndex.foreach { case (rows, g) =>
      val foreign = rows.map(_.docId).filterNot(arrived(g))
      if (foreign.nonEmpty)
        errs += s"generation $g released ids from another batch: ${foreign.take(5).mkString(",")}"
    }
    val badSplit = (all ++ stored ++ batch).map(_.split).filterNot(Splits)
    if (badSplit.nonEmpty) errs += s"unknown split ${badSplit.distinct.take(3).mkString(",")}"
    def bag(rs: Seq[Released]) = rs.groupBy(identity).view.mapValues(_.size).toMap
    if (bag(stored) != bag(all))
      errs += s"store holds ${stored.size} released rows, the calls returned ${all.size} (or the rows differ)"
    val everyId = arrived.reduce(_ ++ _)
    if (batch.map(_.docId).distinct.size != batch.size) errs += "batchRelease repeats a doc_id"
    if (!batch.forall(r => everyId(r.docId))) errs += "batchRelease released an id that never arrived"
    errs.result()
  }

  /** Order-free digest of a run's released rows (the increments' returns by
    * generation, then the batch release).
    */
  def releaseDigest(returned: IndexedSeq[Seq[Released]], batch: Seq[Released]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def feed(tag: String, rs: Seq[Released]): Unit =
      rs.sortBy(_.docId).foreach(r => md.update(s"$tag|${r.docId}|${r.repId}|${r.split}|${r.text}\n".getBytes(UTF_8)))
    returned.zipWithIndex.foreach { case (rs, g) => feed(g.toString, rs) }
    feed("batch", batch)
    md.digest().map("%02x".format(_)).mkString
  }

  def checkDigest(expected: Option[String], got: String): Seq[String] =
    expected.filter(_ != got).map(e => s"digest $got differs from the seed's recorded $e").toSeq
}
