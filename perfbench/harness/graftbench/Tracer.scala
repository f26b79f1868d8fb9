package graftbench

import scala.collection.mutable
import org.apache.spark.{GraftBenchAccess, SparkContext, Success}
import org.apache.spark.scheduler._

/** One traced interval: an op, or the call or the materialization
  * inside it. Times are epoch milliseconds, the clock Spark's task and
  * stage events use, so spans and tasks share one timeline. */
final case class Span(id: Int, run: String, name: String, kind: String,
    module: String, parent: Int, start: Long, var end: Long = -1L)

/** Spark work attributed to one span. */
final class Work {
  var jobs, stagesInJobs, stages, tasks, tasksFailed, filesWritten = 0
  var taskMs, cpuNs, gcMs, schedWaitMs = 0L
  var shuffleWrite, shuffleRead, spill, input, output, peakMem = 0L
}

/** Span recorder plus the benchmark's own `SparkListener`.
  *
  * A span is opened on the single driver thread and tagged onto every
  * job that thread submits through the `graftbench.span` local
  * property (Spark copies local properties into each job's and stage's
  * properties, including the broadcast and AQE stage jobs started on
  * helper threads). The listener maps job → stages → tasks back to that
  * span, so each job, stage and task counts toward exactly the span
  * that was open when it was submitted. Spans stay in memory; the
  * harness writes them out when the run ends. */
final class Tracer(sc: SparkContext, val run: String) extends SparkListener {
  import Tracer.SpanKey

  val spans = mutable.ArrayBuffer.empty[Span]
  val work = mutable.Map.empty[Int, Work]
  /** (launch, finish) of every attributed task, epoch ms. */
  val tasks = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageSubmitted = mutable.Map.empty[Int, Long]

  sc.addSparkListener(this)

  def detach(): Unit = sc.removeSparkListener(this)

  /** Run `body` inside a new child of the innermost open span; jobs it
    * submits are attributed to it. */
  def span[T](name: String, kind: String, module: String)(body: => T): T = {
    val outer = sc.getLocalProperty(SpanKey)
    val parent = Option(outer).map(_.toInt).getOrElse(-1)
    val s = Span(spans.size, run, name, kind, module, parent, System.currentTimeMillis())
    spans += s
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.end = System.currentTimeMillis()
      sc.setLocalProperty(SpanKey, outer)
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = GraftBenchAccess.drainListenerBus(sc)

  private def spanOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(q => Option(q.getProperty(SpanKey))).map(_.toInt)

  private def workOf(s: Int): Work = work.getOrElseUpdate(s, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      val w = workOf(s)
      w.jobs += 1
      w.stagesInJobs += e.stageInfos.size
      e.stageIds.foreach(stageSpan(_) = s)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    spanOf(e.properties).orElse(stageSpan.get(id)).foreach { s =>
      stageSpan(id) = s
      workOf(s).stages += 1
      stageSubmitted(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val w = workOf(s)
      val info = e.taskInfo
      w.tasks += 1
      if (e.reason != Success) w.tasksFailed += 1
      stageSubmitted.get(e.stageId).foreach(t => w.schedWaitMs += math.max(0L, info.launchTime - t))
      tasks += ((info.launchTime, info.finishTime))
      Option(e.taskMetrics).foreach { m =>
        w.taskMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.spill += m.diskBytesSpilled
        w.input += m.inputMetrics.bytesRead
        w.output += m.outputMetrics.bytesWritten
        if (m.outputMetrics.bytesWritten > 0) w.filesWritten += 1
        w.peakMem = math.max(w.peakMem, m.peakExecutionMemory)
      }
    }
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
}
