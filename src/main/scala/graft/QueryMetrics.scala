package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The Spark work of one query, from task metrics: Bench's record per
  * (query, rep). Per submitted stage a row (tasks, wall ms, Σ task and
  * GC ms, shuffle read/write and input bytes); the rows' totals plus
  * CPU s, spill bytes and one task's peak execution memory;
  * `busy_frac = task_s / (wall_s × cores)` (near 0 latency-bound, near 1
  * work-bound); and the RDDs still persisted after the query. */
private[graft] final class QueryMetrics(spark: SparkSession) extends SparkListener {
  import Verify.jsonString

  private final class Stage(var name: String = "") {
    var tasks, wallMs, taskMs, gcMs, shuffleRead, shuffleWrite, input = 0L
  }
  private val stages = mutable.TreeMap.empty[Int, Stage]
  private var jobs, cpuNs, spill, peakMem = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages.getOrElseUpdate(e.stageInfo.stageId, new Stage).name =
      e.stageInfo.name.takeWhile(_ != '\n').take(60)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (t0 <- i.submissionTime; t1 <- i.completionTime)
      stages.getOrElseUpdate(i.stageId, new Stage).wallMs = math.max(0L, t1 - t0)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new Stage)
    s.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      s.taskMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.input += m.inputMetrics.bytesRead
      cpuNs += m.executorCpuTime
      spill += m.diskBytesSpilled
      peakMem = math.max(peakMem, m.peakExecutionMemory)
    }
  }

  // the bus is asynchronous: wait until every event posted so far is
  // delivered, so none of an earlier query's lands in this record
  private def drain(): Unit =
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)

  /** Open the next query's record. */
  def reset(): Unit = {
    drain()
    synchronized { stages.clear(); jobs = 0; cpuNs = 0; spill = 0; peakMem = 0 }
  }

  private def json(kv: (String, Any)*): String = kv.map {
    case (k, v: String) => s"${jsonString(k)}:${jsonString(v)}"
    case (k, v: Option[_]) => s"${jsonString(k)}:${v.map(x => jsonString(x.toString)).getOrElse("null")}"
    case (k, v: Seq[_]) => s"${jsonString(k)}:${v.mkString("[", ",", "]")}"
    case (k, v) => s"${jsonString(k)}:$v"
  }.mkString("{", ",", "}")

  /** Render the record of the query `reset()` opened, once its events are in. */
  def record(query: String, rep: Int, wallS: Double, error: Option[String]): String = {
    drain()
    synchronized {
      val ss = stages.toSeq
      def sum(f: Stage => Long): Long = ss.map(s => f(s._2)).sum
      val taskS = sum(_.taskMs) / 1e3
      val cores = spark.sparkContext.defaultParallelism
      json("query" -> query, "rep" -> rep, "wall_s" -> wallS, "error" -> error,
        "jobs" -> jobs, "stages" -> ss.size, "tasks" -> sum(_.tasks), "task_s" -> taskS,
        "cpu_s" -> cpuNs / 1e9, "gc_s" -> sum(_.gcMs) / 1e3,
        "shuffle_read_bytes" -> sum(_.shuffleRead), "shuffle_write_bytes" -> sum(_.shuffleWrite),
        "spill_bytes" -> spill, "input_bytes" -> sum(_.input), "peak_exec_mem_bytes" -> peakMem,
        "busy_frac" -> (if (wallS > 0) taskS / (wallS * cores) else 0.0),
        "persisted_rdds" -> spark.sparkContext.getPersistentRDDs.size,
        "stage_rows" -> ss.map { case (id, s) =>
          json("id" -> id, "name" -> s.name, "tasks" -> s.tasks, "wall_ms" -> s.wallMs,
            "task_ms" -> s.taskMs, "gc_ms" -> s.gcMs, "shuffle_read_bytes" -> s.shuffleRead,
            "shuffle_write_bytes" -> s.shuffleWrite, "input_bytes" -> s.input)
        })
    }
  }
}
