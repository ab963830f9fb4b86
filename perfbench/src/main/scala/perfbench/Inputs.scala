package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded input generators. Everything here is plain single-threaded Scala
  * over `SplittableRandom`, whose sequence is fixed by the JDK spec, so the
  * same seed writes byte-identical files on every run and every box. The
  * program under test only ever sees these files.
  */
object Inputs {

  /** Edge text: distinct directed edges, no self-loops, Zipf-skewed ends. */
  final case class GraphShape(vertices: Int, edges: Int, srcSkew: Double, dstSkew: Double)
  val Graph = GraphShape(vertices = 10000, edges = 100000, srcSkew = 0.6, dstSkew = 1.0)

  /** (basket, item) pairs; item popularity is Zipf-skewed so hub items
    * dominate the co-occurrence wedges.
    */
  final case class BasketShape(baskets: Int, items: Int, minSize: Int, maxSize: Int, skew: Double)
  val Baskets = BasketShape(baskets = 5000, items = 2500, minSize = 2, maxSize = 8, skew = 0.8)

  /** Documents: the first `initDocs` build the store, the rest arrive in
    * batches of `batchDocs`; ids are monotone in arrival order.
    */
  final case class DocShape(initDocs: Int, batches: Int, batchDocs: Int)
  val Docs = DocShape(initDocs = 400, batches = 1, batchDocs = 100)

  /** Cumulative Zipf(s) distribution over ranks 0..n-1. */
  private final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val c = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += math.pow(i + 1.0, -s); c(i) = acc; i += 1 }
      i = 0
      while (i < n) { c(i) /= acc; i += 1 }
      c
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  /** A seeded permutation of 1..n: rank r maps to id perm(r), so the
    * popular vertices are not simply the small ids.
    */
  private def permutedIds(n: Int, r: SplittableRandom): Array[Long] = {
    val ids = Array.tabulate(n)(i => i + 1L)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
      i -= 1
    }
    ids
  }

  private def writer(p: Path): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(p), UTF_8), 1 << 16)

  /** `edges.txt`: `src<TAB>dst` lines, the reference's WikiData layout. */
  def writeGraph(seed: Long, dir: Path, g: GraphShape = Graph): Path = {
    val r = new SplittableRandom(seed ^ 0x6772617068L)
    val ids = permutedIds(g.vertices, r)
    val src = new Zipf(g.vertices, g.srcSkew)
    val dst = new Zipf(g.vertices, g.dstSkew)
    val seen = new LongSet(g.edges * 2)
    val out = dir.resolve("edges.txt")
    val w = writer(out)
    try {
      var n = 0
      while (n < g.edges) {
        val a = ids(src.draw(r))
        val b = ids(dst.draw(r))
        if (a != b && seen.add(a * (g.vertices + 1L) + b)) {
          w.write(a.toString); w.write('\t'); w.write(b.toString); w.write('\n')
          n += 1
        }
      }
    } finally w.close()
    out
  }

  /** `baskets.tsv`: `basket<TAB>item` lines, items distinct per basket. */
  def writeBaskets(seed: Long, dir: Path, b: BasketShape = Baskets): Path = {
    val r = new SplittableRandom(seed ^ 0x6261736b6574L)
    val ids = permutedIds(b.items, r)
    val pop = new Zipf(b.items, b.skew)
    val out = dir.resolve("baskets.tsv")
    val w = writer(out)
    try {
      var basket = 0
      while (basket < b.baskets) {
        val size = b.minSize + r.nextInt(b.maxSize - b.minSize + 1)
        val picked = scala.collection.mutable.LinkedHashSet[Long]()
        while (picked.size < size) picked += ids(pop.draw(r))
        picked.foreach { it =>
          w.write(basket.toString); w.write('\t'); w.write(it.toString); w.write('\n')
        }
        basket += 1
      }
    } finally w.close()
    out
  }

  // The vocabulary of the sf documents table, plus the stopwords the
  // classifier's weak label counts.
  private val Words = Array(
    "batch", "part", "spark", "line", "column", "order", "small", "sort", "fast",
    "value", "scan", "hash", "slow", "group", "agg", "filter", "query", "big",
    "key", "window", "row", "table", "stream", "merge", "data", "vector",
    "customer", "join")
  private val Stop = Array("the", "a", "of", "and", "to", "in", "is")
  // Shared boilerplate long enough (>= 6 tokens) for span excision to find.
  private val Boilerplate = Array(
    "all rights reserved by the data table group and key",
    "subscribe to the stream for a fast merge of every order line",
    "this part is a small sort of the big hash window in spark")

  /** Document files in arrival order: `docs_00.tsv` holds the store's
    * initial corpus and `docs_01.tsv`.. each hold one arriving batch.
    * Lines are `doc_id<TAB>text`; ids are 0.. in arrival order. Every
    * fifth document is a near-copy of a recent original (near-dup
    * clustering across batches), every seventh original carries
    * boilerplate (span excision), and every third original has few
    * stopwords (so the weak-label gate drops some documents). The mix is
    * fixed and only the tokens come from the seed, so the amount of work
    * does not swing with the seed; copies are never copied again, so
    * clusters stay stars and the CC round count stays put too.
    */
  def writeDocs(seed: Long, dir: Path, d: DocShape = Docs): Seq[Path] = {
    val r = new SplittableRandom(seed ^ 0x646f6373L)
    val originals = scala.collection.mutable.ArrayBuffer[Array[String]]()
    def fresh(): Array[String] = {
      val len = 8 + r.nextInt(53)
      val stopRate = if (originals.length % 3 == 0) 0.02 else 0.15
      Array.fill(len)(
        if (r.nextDouble() < stopRate) Stop(r.nextInt(Stop.length))
        else Words(r.nextInt(Words.length)))
    }
    def nearCopy(): Array[String] = {
      val base = originals(originals.length - 1 - r.nextInt(math.min(originals.length, 400))).clone()
      val edits = 1 + r.nextInt(2)
      (0 until edits).foreach(_ => base(r.nextInt(base.length)) = Words(r.nextInt(Words.length)))
      base
    }
    val sizes = d.initDocs +: Seq.fill(d.batches)(d.batchDocs)
    var id = 0L
    sizes.zipWithIndex.map { case (n, k) =>
      val out = dir.resolve(f"docs_$k%02d.tsv")
      val w = writer(out)
      try (0 until n).foreach { _ =>
        val toks =
          if (id % 5 == 4) nearCopy()
          else {
            val t =
              if (originals.length % 7 == 6) fresh() ++ Boilerplate(r.nextInt(Boilerplate.length)).split(' ')
              else fresh()
            originals += t
            t
          }
        w.write(id.toString); w.write('\t'); w.write(toks.mkString(" ")); w.write('\n')
        id += 1
      } finally w.close()
      out
    }
  }

  /** Open-addressing set of non-negative longs (dedup of generated edges
    * without boxing millions of keys).
    */
  private[perfbench] final class LongSet(expected: Int) {
    private var cap = Integer.highestOneBit(math.max(16, expected * 2)) << 1
    private var keys = Array.fill(cap)(-1L)
    private var size = 0
    private def slot(k: Long, ks: Array[Long]): Int = {
      var h = (java.lang.Long.hashCode(k * 0x9E3779B97F4A7C15L) & 0x7fffffff) & (ks.length - 1)
      while (ks(h) != -1L && ks(h) != k) h = (h + 1) & (ks.length - 1)
      h
    }
    def add(k: Long): Boolean = {
      val h = slot(k, keys)
      if (keys(h) == k) false
      else {
        keys(h) = k
        size += 1
        if (size * 2 > cap) grow()
        true
      }
    }
    private def grow(): Unit = {
      val old = keys
      cap *= 2
      keys = Array.fill(cap)(-1L)
      old.foreach(k => if (k != -1L) keys(slot(k, keys)) = k)
    }
  }
}
