package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the session, the calls made into the
  * program (spans), the failures and the per-body samples.
  */
final class Ctx(val traced: Boolean, val work: Path, val nproc: Int, digestFile: Path) {
  var spark: SparkSession = _
  private var cpu: CpuListener = _
  private val spanListeners = mutable.ArrayBuffer[SpanListener]()

  /** setup, warmup, body or check. */
  var phase = "setup"
  var body: Int = -1
  /** Whether the current body is traced (alternates in a traced run). */
  var bodyTraced: Boolean = traced

  var attempted = 0L
  val calls = mutable.ArrayBuffer[SpanCall]()
  val failures = mutable.ArrayBuffer[Failure]()
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private var digest: Option[String] = None

  /** Stops the previous session, if any, and starts one with the settings
    * `graft.Bench` uses, all scratch space kept under the work directory.
    */
  def startSession(): Unit = {
    if (spark != null) spark.stop()
    spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    cpu = new CpuListener
    sc.addSparkListener(cpu)
    if (traced) {
      val l = new SpanListener
      spanListeners += l
      sc.addSparkListener(l)
    }
  }

  def stopSession(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** Executor CPU so far, after every pending listener event is in. */
  def cpuNs(): Long = {
    org.apache.spark.sql.graft.GraftInternals.drainListenerBus(spark)
    cpu.cpuNs.get()
  }

  def unattributedJobs: Long = spanListeners.map(_.unattributedJobs).sum
  def statsOf(id: String): SpanStats =
    spanListeners.iterator.map(_.statsOf(id)).find(_.jobs > 0).getOrElse(new SpanStats)

  def sample(name: String, v: Double): Unit =
    if (phase == "body") samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  def lastCall: SpanCall = calls.last

  /** One call into the program, as a span. The job group property makes the
    * listener attribute its jobs; a failure is recorded with its span and
    * aborts the rest of the body.
    */
  def call[T](name: String)(f: => T): T = {
    val sc = spark.sparkContext
    val id = s"$name#${calls.size}"
    val tracedCall = traced && (bodyTraced || phase != "body")
    val prev = sc.getLocalProperty(Tracer.Prop)
    if (traced) sc.setLocalProperty(Tracer.Prop, if (tracedCall) id else Tracer.Untraced)
    attempted += 1
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def record(ok: Boolean): Unit =
      calls += SpanCall(id, name, phase, body, tracedCall, ms0, System.currentTimeMillis(),
        (System.nanoTime() - t0) / 1e9, ok)
    try {
      val r = f
      record(ok = true)
      r
    } catch {
      case e: Throwable =>
        record(ok = false)
        failures += Failure(name, phase, body, e.getClass.getName, String.valueOf(e.getMessage))
        throw new CallFailed(e)
    } finally if (traced) sc.setLocalProperty(Tracer.Prop, prev)
  }

  /** One output check: an attempted operation that fails when it finds
    * problems.
    */
  def check(name: String)(problems: => Seq[String]): Unit = {
    attempted += 1
    val ps =
      try problems
      catch { case e: Exception => Seq(s"${e.getClass.getName}: ${e.getMessage}") }
    if (ps.nonEmpty) failures += Failure(s"check.$name", phase, body, "CheckFailed", ps.mkString("; "))
  }

  /** Problems with `d` as this seed's output digest: it must equal every
    * earlier body's, and the digest an earlier run of the seed recorded.
    */
  def digestProblems(d: String): Seq[String] = {
    if (digest.isEmpty) {
      if (Files.exists(digestFile)) digest = Some(Files.readString(digestFile, UTF_8).trim)
      else {
        Files.createDirectories(digestFile.getParent)
        Files.writeString(digestFile, d + "\n", UTF_8)
        digest = Some(d)
      }
    }
    Checks.checkDigest(digest, d)
  }
}

object Dirs {
  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally all.close()
  }

  def copyTree(src: Path, dst: Path): Unit = {
    val all = Files.walk(src)
    try all.iterator().asScala.foreach { q =>
      val t = dst.resolve(src.relativize(q))
      if (Files.isDirectory(q)) Files.createDirectories(t) else Files.copy(q, t)
    } finally all.close()
  }

  /** (bytes, files) of the regular files under `p`. */
  def usage(p: Path): (Long, Long) = if (!Files.exists(p)) (0L, 0L) else {
    val all = Files.walk(p)
    try all.iterator().asScala.filter(Files.isRegularFile(_))
      .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
    finally all.close()
  }
}
