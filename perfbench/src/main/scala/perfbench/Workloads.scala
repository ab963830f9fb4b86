package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.graph.{Motifs, PageRank}
import graft.io.Sinks
import graft.release.{ReleaseParams, ReleaseStore}

/** One workload: seeded inputs, the set-up a user pays once, a reference
  * computed single-threaded, and the timed body. `body` returns the checks
  * of its output, which run after the body's clock has stopped.
  */
trait Workload {
  def name: String
  def generate(seed: Long, dir: Path): Unit
  def setUp(ctx: Ctx, dir: Path): Unit
  /** Name of the reference's timing metric, if it has one. */
  def oracle: Option[String]
  def reference(dir: Path): Unit
  /** How many times set-up runs (its median is `setup_s`), how many
    * untimed bodies run before the timed ones, and the fewest timed bodies
    * whatever `--seconds` says. A graph body still gets faster over its
    * first few runs in a JVM (JIT), so graph runs warm up twice.
    */
  def setups: Int = 3
  def warmupBodies: Int = 2
  def minBodies: Int = 2
  def body(ctx: Ctx, dir: Path): () => Unit
}

object Workloads {
  val All: Seq[Workload] = Seq(new PageRankPipeline, new TriangleCensus, new ReleaseIncrement)
  def apply(name: String): Workload = All.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $name; one of ${All.map(_.name).mkString(", ")}"))

  def tsv(spark: SparkSession, schema: String, paths: Path*): DataFrame =
    spark.read.schema(schema).option("delimiter", "\t").csv(paths.map(_.toString): _*)
}

/** The reference pipeline: edge text → prepare → iterate → top-100 → sink. */
final class PageRankPipeline extends Workload {
  val name = "pagerank_pipeline"
  val oracle = Some("oracle.pagerank_s")
  private val params = PageRank.Params(beta = 0.85, delta = 1e-5)
  private val K = 100
  private var ref: Checks.PageRankRef = _

  private def edges(dir: Path) = dir.resolve("edges.txt")
  def generate(seed: Long, dir: Path): Unit = Inputs.writeGraph(seed, dir)
  def setUp(ctx: Ctx, dir: Path): Unit =
    ctx.call("setup.read_input")(PageRank.edgesFromText(ctx.spark, edges(dir).toString).count())
  def reference(dir: Path): Unit =
    ref = Checks.pageRankRef(edges(dir), params.beta, params.delta, params.maxIter, K)

  def body(ctx: Ctx, dir: Path): () => Unit = {
    val spark = ctx.spark
    val e = ctx.call("graph.PageRank.edgesFromText")(PageRank.edgesFromText(spark, edges(dir).toString))
    val g = ctx.call("graph.PageRank.prepare")(PageRank.prepare(e))
    val r = ctx.call("graph.PageRank.runOn")(PageRank.runOn(spark, g, params))
    ctx.lastCall.extra("iterations") = r.iterations
    val (top, rows) = ctx.call("graph.PageRank.topK") {
      val t = PageRank.topK(r.ranks, K).localCheckpoint(true)
      (t, t.collect())
    }
    val out = ctx.work.resolve(s"result_${ctx.body}")
    ctx.call("io.Sinks.writeResultText")(Sinks.writeResultText(top, out.toString))
    ctx.lastCall.extra("bytes_written") = Dirs.usage(out)._1.toDouble
    Dirs.rmTree(out)
    val got = rows.toSeq.map(x => Checks.Ranked(x.getLong(0), x.getDouble(1)))
    () => ctx.check("pagerank_top100")(Checks.checkPageRank(ref, got, r.iterations))
  }
}

/** Co-occurrence graph of skewed baskets → global triangle census and
  * per-vertex clustering.
  */
final class TriangleCensus extends Workload {
  val name = "triangle_census"
  val oracle = Some("oracle.triangles_s")
  private var ref: Checks.Census = _

  private def baskets(dir: Path) = dir.resolve("baskets.tsv")
  private def pairs(spark: SparkSession, dir: Path) =
    Workloads.tsv(spark, "basket LONG, item LONG", baskets(dir))
  def generate(seed: Long, dir: Path): Unit = Inputs.writeBaskets(seed, dir)
  def setUp(ctx: Ctx, dir: Path): Unit = ctx.call("setup.read_input")(pairs(ctx.spark, dir).count())
  def reference(dir: Path): Unit = ref = Checks.censusRef(baskets(dir))

  def body(ctx: Ctx, dir: Path): () => Unit = {
    val spark = ctx.spark
    val s = ctx.call("graph.Motifs.triangleStats") {
      Motifs.triangleStats(Motifs.coOccurrence(pairs(spark, dir), "basket", "item")).collect().head
    }
    val census = Checks.Census(s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3), s.getDouble(4))
    ctx.lastCall.extra("closed_rows") = census.triangles.toDouble
    ctx.lastCall.extra("wedges") = census.wedges.toDouble
    val local = ctx.call("graph.Motifs.localClustering") {
      Motifs.localClustering(Motifs.coOccurrence(pairs(spark, dir), "basket", "item")).collect()
    }
    val triCorners = local.iterator.map(_.getLong(2)).sum
    () => ctx.check("triangle_census")(Checks.checkCensus(ref, census, local.length.toLong, triCorners))
  }
}

/** A release store built once from the initial corpus; each body copies
  * it, releases the arriving batches one increment at a time, then runs
  * the one-shot batch release over every arrived document.
  */
final class ReleaseIncrement extends Workload {
  val name = "release_increment"
  val oracle = None
  private val params = ReleaseParams()
  private var files: IndexedSeq[Path] = IndexedSeq.empty
  private var arrived: IndexedSeq[Set[Long]] = IndexedSeq.empty
  private var textBytes = 0L
  private var initRows: Seq[Checks.Released] = Nil

  /** A store build costs as much as a body (each is fixed-cost bound, at
    * about a hundred Spark jobs), so set-up runs twice, and the timed
    * bodies start right after it: the builds have already run the
    * classifier, dedup, CC and span code a body runs.
    */
  override def setups = 2
  override def warmupBodies = 0
  override def minBodies = 1

  private def template(ctx: Ctx) = ctx.work.resolve("template")
  private def docs(spark: SparkSession, ps: Path*) = Workloads.tsv(spark, "doc_id LONG, text STRING", ps: _*)
  private def rows(df: DataFrame): Seq[Checks.Released] =
    df.select("doc_id", "rep_id", "split", "text_dedup").collect().toSeq
      .map((r: Row) => Checks.Released(r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))

  def generate(seed: Long, dir: Path): Unit = files = Inputs.writeDocs(seed, dir).toIndexedSeq

  def setUp(ctx: Ctx, dir: Path): Unit = {
    ctx.call("setup.read_input")(docs(ctx.spark, files: _*).count())
    Dirs.rmTree(template(ctx))
    initRows = ctx.call("release.ReleaseStore.init") {
      rows(ReleaseStore.init(ctx.spark, docs(ctx.spark, files.head), "doc_id", "text", params,
        template(ctx).toString))
    }
    ctx.lastCall.extra("bytes_written") = Dirs.usage(template(ctx))._1.toDouble
  }

  /** No program output has a single-threaded twin here; the reference is
    * the arrival record the invariants are checked against.
    */
  def reference(dir: Path): Unit = {
    val lines = files.map(f => Files.readAllLines(f, UTF_8).asScala.toSeq)
    arrived = lines.map(_.map(l => l.substring(0, l.indexOf('\t')).toLong).toSet)
    textBytes = lines.flatten.map(l => l.substring(l.indexOf('\t') + 1).getBytes(UTF_8).length.toLong).sum
  }

  def body(ctx: Ctx, dir: Path): () => Unit = {
    val spark = ctx.spark
    val store = ctx.work.resolve(s"store_${ctx.body}")
    Dirs.copyTree(template(ctx), store)
    val returned = initRows +: files.tail.map { f =>
      val (bytes0, files0) = Dirs.usage(store)
      val rs = ctx.call("release.ReleaseStore.increment") {
        rows(ReleaseStore.increment(spark, docs(spark, f), "doc_id", "text", params, store.toString))
      }
      val call = ctx.lastCall
      val (bytes1, files1) = Dirs.usage(store)
      call.extra("bytes_written") = (bytes1 - bytes0).toDouble
      call.extra("files_written") = (files1 - files0).toDouble
      ctx.sample("increment_s", call.wallS)
      rs
    }
    ctx.sample("store_bytes_per_input_byte", Dirs.usage(store)._1.toDouble / textBytes)
    val batch = ctx.call("release.ReleaseStore.batchRelease") {
      rows(ReleaseStore.batchRelease(docs(spark, files: _*), "doc_id", "text", params))
    }
    ctx.sample("batch_release_s", ctx.lastCall.wallS)
    () => {
      try {
        val stored = ctx.call("check.read_store")(rows(spark.read.parquet(store.resolve("released").toString)))
        ctx.check("release_invariants")(Checks.checkRelease(arrived, returned, stored, batch))
      } finally Dirs.rmTree(store)
      ctx.check("release_digest")(ctx.digestProblems(Checks.releaseDigest(returned, batch)))
    }
  }
}
