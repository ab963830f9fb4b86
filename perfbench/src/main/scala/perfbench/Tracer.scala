package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Executor CPU per stage, the same stage-completion listener `graft.Bench`
  * runs; always on, traced or not.
  */
final class CpuListener extends SparkListener {
  val cpuNs = new AtomicLong(0L)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    if (m != null) cpuNs.addAndGet(m.executorCpuTime)
  }
}

/** What the tasks of one span call did, summed over its jobs. */
final class SpanStats {
  var jobs, stages, tasks = 0L
  var cpuNs, gcMs, shuffleReadBytes, shuffleWriteBytes, shuffleWriteRows, spillBytes = 0L
  var maxTaskMs = 0L
  val taskIntervals = mutable.ArrayBuffer[(Long, Long)]()
}

/** Attributes jobs, stages and tasks to the span that was active when the
  * job started, through the job's `Tracer.Prop` local property. Only in
  * traced runs. Events arrive on the listener bus thread; the driver thread reads
  * after draining the bus.
  */
final class SpanListener extends SparkListener {
  private val byCall = mutable.HashMap[String, SpanStats]()
  private val stageCall = mutable.HashMap[Int, String]()
  private var unattributed = 0L

  private def stats(id: String) = byCall.getOrElseUpdate(id, new SpanStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val id = Option(e.properties).map(_.getProperty(Tracer.Prop)).orNull
    if (id == null) unattributed += 1
    else if (id != Tracer.Untraced) {
      stats(id).jobs += 1
      e.stageIds.foreach(stageCall(_) = id)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageCall.get(e.stageInfo.stageId).foreach(stats(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageCall.get(e.stageId).foreach { id =>
      val s = stats(id)
      val info = e.taskInfo
      s.tasks += 1
      s.maxTaskMs = math.max(s.maxTaskMs, info.duration)
      s.taskIntervals += ((info.launchTime, info.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleWriteRows += m.shuffleWriteMetrics.recordsWritten
        s.spillBytes += m.diskBytesSpilled
      }
    }
  }

  def unattributedJobs: Long = synchronized(unattributed)
  def statsOf(id: String): SpanStats = synchronized(byCall.getOrElse(id, new SpanStats))
}

/** One call into the program, timed from outside. `phase` is setup,
  * warmup, body or check; `traced` says whether the listener saw it.
  */
final case class SpanCall(
    id: String, name: String, phase: String, body: Int, traced: Boolean,
    startMs: Long, endMs: Long, wallS: Double, ok: Boolean,
    extra: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap())

final case class Failure(span: String, phase: String, body: Int, error: String, message: String)

/** A call failed (recorded in `Ctx.failures`); the rest of its body is skipped. */
final class CallFailed(cause: Throwable) extends RuntimeException(cause)

object Tracer {
  val Prop = "perfbench.span"
  /** Marks the jobs of a deliberately untraced body inside a traced run. */
  val Untraced = "-"

  /** Seconds of `[start, end]` (epoch ms) during which no task ran. */
  def driverGapS(startMs: Long, endMs: Long, tasks: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var reach = startMs
    tasks.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    math.max(0L, endMs - startMs - covered) / 1e3
  }
}
