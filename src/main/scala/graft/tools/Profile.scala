package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-query profiler (dev tool). Runs one `SparkEntry` query under the
  * bench session config and, per rep, prints the wall time of a full
  * materialization (`noop` write, so Catalyst cannot prune columns the
  * way a `count()` would), the per-stage table a disabled Spark UI would
  * show (wall span, Σ task time, GC, shuffle read/write, input bytes)
  * and the persisted-RDD count left behind. A query whose Σ task time
  * is far below wall × cores is latency-bound (stage and job
  * scheduling), not work-bound.
  *
  * Every rep starts from cold memo caches (`Caches.clearAll`), the
  * Bench between-reps semantics.
  *
  * Usage: runMain graft.tools.Profile <query> [reps]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default: all cores).
  */
object Profile {

  private final class Collector extends SparkListener {
    case class St(var name: String = "", var nTasks: Int = 0,
      var taskMs: Long = 0, var gcMs: Long = 0,
      var shufReadB: Long = 0, var shufWriteB: Long = 0,
      var inputB: Long = 0, var submitted: Long = 0, var completed: Long = 0)
    val stages = mutable.LinkedHashMap.empty[Int, St]
    var jobs = 0
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageInfo.stageId, St())
      s.name = e.stageInfo.name.takeWhile(_ != '\n').take(60)
      s.submitted = System.currentTimeMillis()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageInfo.stageId, St())
      s.completed = System.currentTimeMillis()
      s.nTasks = e.stageInfo.numTasks
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageId, St())
      val m = e.taskMetrics
      if (m != null) {
        s.taskMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shufReadB += m.shuffleReadMetrics.totalBytesRead
        s.shufWriteB += m.shuffleWriteMetrics.bytesWritten
        s.inputB += m.inputMetrics.bytesRead
      }
    }
    def clear(): Unit = synchronized { stages.clear(); jobs = 0 }
    def report(): Unit = synchronized {
      println(f"  ${"stage"}%5s ${"tasks"}%5s ${"wall_ms"}%8s ${"taskSum_ms"}%10s ${"gc_ms"}%6s ${"shufR_kb"}%9s ${"shufW_kb"}%9s ${"in_kb"}%9s  name")
      var wall = 0L; var task = 0L
      stages.toSeq.sortBy(_._1).foreach { case (id, s) =>
        val w = math.max(0, s.completed - s.submitted)
        wall += w; task += s.taskMs
        println(f"  $id%5d ${s.nTasks}%5d $w%8d ${s.taskMs}%10d ${s.gcMs}%6d ${s.shufReadB / 1024}%9d ${s.shufWriteB / 1024}%9d ${s.inputB / 1024}%9d  ${s.name}")
      }
      println(f"  TOTAL jobs=$jobs stages=${stages.size} stageWallSum=${wall}ms taskSum=${task}ms")
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SparkEntry.session("graft-profile", Some(dir))
    val coll = new Collector
    spark.sparkContext.addSparkListener(coll)
    val fn = graft.SparkEntry.queries(name)
    (1 to reps).foreach { r =>
      graft.Caches.clearAll()
      coll.clear()
      val t0 = System.nanoTime()
      graft.SparkEntry.materialize(fn(spark, dir))
      val sec = (System.nanoTime() - t0) / 1e9
      // listener bus is async; give it a beat to drain before reporting
      Thread.sleep(300)
      println(f"[profile] $name rep$r noop $sec%7.2f s  (cpus=${spark.sparkContext.defaultParallelism})")
      coll.report()
      println(s"  persisted RDDs after rep$r: ${spark.sparkContext.getPersistentRDDs.size}")
    }
    spark.stop()
  }
}
