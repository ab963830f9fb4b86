package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

/** Runs one workload for one seed and writes every measurement, span and
  * failure of the run as one JSON record.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <scratch dir> --out <result.json> --digests <dir>
  *
  * Closed loop, one client: a single driver thread runs the workload's body
  * back to back. Set-up (session start, input generation, a warm read, and
  * the store build where there is one) runs several times and reports the
  * median. The workload's untimed warm-up bodies follow, then timed bodies
  * run until `--seconds` have passed and at least the workload's fewest
  * timed bodies have run. In a traced run the measured bodies alternate
  * traced and untraced, so the run also measures its own overhead.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = Workloads(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val digests = Paths.get(a("digests")).toAbsolutePath.resolve(s"${workload.name}-$seed.sha256")
    val nproc = Runtime.getRuntime.availableProcessors
    val ctx = new Ctx(traced, work, nproc, digests)
    val inputs = work.resolve("inputs")
    val load1Start = load1()
    val setupS = mutable.ArrayBuffer[Double]()
    var oracleS = Double.NaN
    var warmupS = 0.0

    def runBody(i: Int): Unit = {
      ctx.body = i
      ctx.bodyTraced = traced && i % 2 == 1
      val cpu0 = ctx.cpuNs()
      val t0 = System.nanoTime()
      val verify =
        try Some(workload.body(ctx, inputs))
        catch { case _: CallFailed => None }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (ctx.cpuNs() - cpu0) / 1e9
      if (ctx.phase == "warmup") warmupS += wall
      else if (verify.isDefined) {
        ctx.sample(if (!traced) "wall_s" else if (ctx.bodyTraced) "traced_wall_s" else "untraced_wall_s", wall)
        ctx.sample("cpu_s", cpu)
      }
      val bodyPhase = ctx.phase
      ctx.phase = "check"
      try verify.foreach(_.apply())
      catch { case _: CallFailed => () }
      ctx.phase = bodyPhase
      sweep(ctx)
    }

    try {
      (0 until workload.setups).foreach { _ =>
        val t0 = System.nanoTime()
        ctx.startSession()
        Dirs.rmTree(inputs)
        Files.createDirectories(inputs)
        workload.generate(seed, inputs)
        workload.setUp(ctx, inputs)
        setupS += (System.nanoTime() - t0) / 1e9
      }
      val t0 = System.nanoTime()
      workload.reference(inputs)
      oracleS = (System.nanoTime() - t0) / 1e9

      ctx.phase = "warmup"
      (1 to workload.warmupBodies).foreach(w => runBody(-w))
      ctx.phase = "body"
      // A traced run needs a traced and an untraced body to price tracing.
      val minBodies = if (traced) math.max(2, workload.minBodies) else workload.minBodies
      val start = System.nanoTime()
      var i = 1
      while (i <= minBodies || (System.nanoTime() - start) / 1e9 < seconds) {
        runBody(i)
        i += 1
      }
    } catch {
      case _: CallFailed => () // recorded in ctx.failures; reported below
    }
    if (ctx.spark != null) org.apache.spark.sql.graft.GraftInternals.drainListenerBus(ctx.spark)
    val peakRssMb = vmHwmMb()
    val load1End = load1()

    val spans = Report.spans(ctx)
    val summary = Report.summary(ctx, workload, setupS.toSeq, oracleS, warmupS, peakRssMb, spans)
    val box = Seq(
      "nproc" -> nproc,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "load1_start" -> load1Start,
      "load1_end" -> load1End)
    ctx.stopSession()
    val record = Json.obj(
      "workload" -> workload.name,
      "seed" -> seed,
      "trace" -> traced,
      "run_seconds" -> seconds,
      "box" -> Json.obj(box: _*),
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failures.size,
      "failures" -> ctx.failures.map(f => Json.obj(
        "span" -> f.span, "phase" -> f.phase, "body" -> f.body, "error" -> f.error, "message" -> f.message)),
      "metrics" -> summary,
      "samples" -> Json.obj(ctx.samples.toSeq.map { case (k, v) => k -> v.toSeq } ++
        Seq("setup_s" -> setupS.toSeq): _*),
      "spans" -> spans.map(s => Json.obj(s.toSeq: _*)))
    Files.writeString(Paths.get(a("out")), Json(record) + "\n", UTF_8)
  }

  /** Frees everything the body cached or checkpointed, like `graft.Bench`'s
    * sweep, so every body starts from the same state.
    */
  private def sweep(ctx: Ctx): Unit = {
    ctx.spark.catalog.clearCache()
    ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def load1(): Double =
    Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble

  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}
