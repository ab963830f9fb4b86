package perfbench

import scala.collection.mutable

/** Minimal JSON writer: objects keep their key order. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case Obj(fs) => fs.map { case (k, x) => quote(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** The metric catalogue and the reduction of a run to it. */
object Report {
  private val Base = Seq(
    "wall_s" -> "s", "cpu_s" -> "s", "gc_ms" -> "ms", "jobs" -> "count", "stages" -> "count",
    "tasks" -> "count", "shuffle_read_mb" -> "MB", "shuffle_write_mb" -> "MB",
    "shuffle_write_rows" -> "count", "spill_mb" -> "MB", "max_task_s" -> "s", "driver_gap_s" -> "s")

  /** The spans reported per layer, with their metrics. A span the workload
    * never enters reports 0 with n = 0.
    */
  val Spans: Seq[(String, Seq[(String, String)])] = Seq(
    "graph.PageRank.prepare" -> Base,
    "graph.PageRank.runOn" -> (Base ++ Seq("iterations" -> "count", "jobs_per_iter" -> "count")),
    "graph.PageRank.topK" -> Base,
    "io.Sinks.writeResultText" -> (Base :+ ("bytes_written" -> "bytes")),
    "graph.Motifs.triangleStats" -> (Base :+ ("closed_per_shuffled_row" -> "ratio")),
    "graph.Motifs.localClustering" -> Base,
    "release.ReleaseStore.init" -> (Base :+ ("bytes_written" -> "bytes")),
    "release.ReleaseStore.increment" -> (Base ++ Seq("bytes_written" -> "bytes", "files_written" -> "count")),
    "release.ReleaseStore.batchRelease" -> Base)

  val Oracles = Seq("oracle.pagerank_s", "oracle.triangles_s")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN without samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Every call as a flat record: its timing, and in a traced run what its
    * jobs did.
    */
  def spans(ctx: Ctx): Seq[mutable.LinkedHashMap[String, Any]] = ctx.calls.toSeq.map { c =>
    val m = mutable.LinkedHashMap[String, Any](
      "id" -> c.id, "name" -> c.name, "phase" -> c.phase, "body" -> c.body,
      "traced" -> c.traced, "ok" -> c.ok, "wall_s" -> c.wallS)
    if (c.traced) {
      val s = ctx.statsOf(c.id)
      m ++= Seq(
        "cpu_s" -> s.cpuNs / 1e9, "gc_ms" -> s.gcMs.toDouble, "jobs" -> s.jobs.toDouble,
        "stages" -> s.stages.toDouble, "tasks" -> s.tasks.toDouble,
        "shuffle_read_mb" -> s.shuffleReadBytes / 1e6, "shuffle_write_mb" -> s.shuffleWriteBytes / 1e6,
        "shuffle_write_rows" -> s.shuffleWriteRows.toDouble, "spill_mb" -> s.spillBytes / 1e6,
        "max_task_s" -> s.maxTaskMs / 1e3,
        "driver_gap_s" -> Tracer.driverGapS(c.startMs, c.endMs, s.taskIntervals.toSeq))
      c.extra.get("iterations").filter(_ > 0).foreach(it => m("jobs_per_iter") = s.jobs / it)
      c.extra.get("closed_rows").foreach(cl =>
        m("closed_per_shuffled_row") = if (s.shuffleWriteRows == 0) 0.0 else cl / s.shuffleWriteRows)
    }
    m ++= c.extra
    m
  }

  private def entry(value: Double, unit: String, n: Int) = Json.obj("value" -> value, "unit" -> unit, "n" -> n)

  /** Every metric of the run, end-to-end and per layer, each with its unit
    * and sample count.
    */
  def summary(
      ctx: Ctx, w: Workload, setupS: Seq[Double], oracleS: Double, warmupS: Double,
      peakRssMb: Double, spans: Seq[mutable.LinkedHashMap[String, Any]]): Json.Obj = {
    val out = mutable.ArrayBuffer[(String, Any)]()
    def samples(k: String) = ctx.samples.get(k).map(_.toSeq).getOrElse(Nil)
    def med(k: String, unit: String, as: String = null) = {
      val xs = samples(k)
      out += Option(as).getOrElse(k) -> entry(median(xs), unit, xs.size)
    }
    // End to end, from untraced bodies.
    if (ctx.traced) med("untraced_wall_s", "s", "wall_s") else med("wall_s", "s")
    med("cpu_s", "s")
    out += "setup_s" -> entry(median(setupS), "s", setupS.size)
    out += "peak_rss_mb" -> entry(peakRssMb, "MB", 1)
    out += "ops_failed" -> entry(ctx.failures.size.toDouble / math.max(1L, ctx.attempted), "ratio", ctx.attempted.toInt)
    out += "warmup_s" -> entry(warmupS, "s", w.warmupBodies)
    if (ctx.samples.contains("increment_s")) {
      val inc = samples("increment_s")
      out += "increment_p50_s" -> entry(median(inc), "s", inc.size)
      // A p90 needs at least ten samples beyond it.
      if (inc.size >= 100) out += "increment_p90_s" -> entry(quantile(inc, 0.9), "s", inc.size)
      med("batch_release_s", "s")
      med("store_bytes_per_input_byte", "ratio")
    }
    // Per layer: the median over the traced calls of each span.
    Spans.foreach { case (name, metrics) =>
      val calls = spans.filter(s => s("name") == name && s("traced") == true && s("ok") == true &&
        (s("phase") == "body" || s("phase") == "setup"))
      metrics.foreach { case (m, unit) =>
        val xs = calls.flatMap(_.get(m)).map(_.asInstanceOf[Double])
        out += s"$name.$m" -> entry(if (xs.isEmpty) 0.0 else median(xs), unit, xs.size)
      }
    }
    out += "trace.unattributed_jobs" -> entry(ctx.unattributedJobs.toDouble, "count", 1)
    val tw = samples("traced_wall_s")
    val uw = samples("untraced_wall_s")
    out += "trace.overhead_frac" -> entry(
      if (tw.isEmpty || uw.isEmpty) 0.0 else median(tw) / median(uw) - 1.0, "ratio", math.min(tw.size, uw.size))
    Oracles.foreach(o => out += o -> entry(if (w.oracle.contains(o)) oracleS else 0.0, "s", if (w.oracle.contains(o)) 1 else 0))
    Json.Obj(out.toSeq)
  }
}
