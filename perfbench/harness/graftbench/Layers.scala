package graftbench

/** Per-layer metrics of a traced run's one pass. */
object Layers {
  private val MB = 1048576.0

  def compute(tr: Tracer, pass: Harness.PassRec, residue: Seq[(Int, Long)],
      cores: Int, setupJitS: Double): Map[String, Double] = {
    val spans = tr.spans.toSeq
    def work(ss: Seq[Span]) = ss.flatMap(s => tr.work.get(s.id))
    def dur(ss: Seq[Span]) = ss.map(s => (s.end - s.start) / 1e3).sum

    val modules = Workloads.Modules.flatMap { m =>
      val ss = spans.filter(_.module == m)
      val w = work(ss)
      Seq(
        s"$m.call_s" -> dur(ss.filter(_.kind == "call")),
        s"$m.exec_s" -> dur(ss.filter(_.kind == "exec")),
        s"$m.jobs" -> w.map(_.jobs).sum.toDouble,
        s"$m.stages" -> w.map(_.stages).sum.toDouble,
        s"$m.task_s" -> w.map(_.taskMs).sum / 1e3,
        s"$m.shuffle_mb" -> w.map(_.shuffleWrite).sum / MB)
    }

    val all = work(spans)
    val taskS = all.map(_.taskMs).sum / 1e3
    // time inside the pass during which no task was running
    val ivs = tr.tasks.collect { case (s, e) if e > pass.start_ms && s < pass.end_ms =>
      (math.max(s, pass.start_ms), math.min(e, pass.end_ms)) }.sortBy(_._1)
    var covered = 0L
    var reach = pass.start_ms
    for ((s, e) <- ivs) {
      val from = math.max(s, reach)
      if (e > from) { covered += e - from; reach = e }
    }
    val idleS = (pass.end_ms - pass.start_ms - covered) / 1e3
    val spark = Seq(
      "spark.jobs" -> all.map(_.jobs).sum.toDouble,
      "spark.stages" -> all.map(_.stages).sum.toDouble,
      "spark.stages_skipped" -> math.max(0, all.map(w => w.stagesInJobs - w.stages).sum).toDouble,
      "spark.tasks" -> all.map(_.tasks).sum.toDouble,
      "spark.task_s" -> taskS,
      "spark.cpu_s" -> all.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> all.map(_.gcMs).sum / 1e3,
      "spark.sched_wait_s" -> all.map(_.schedWaitMs).sum / 1e3,
      "spark.driver_only_s" -> idleS,
      "spark.busy_frac" -> (if (pass.wall_s > 0) taskS / (pass.wall_s * cores) else 0.0),
      "spark.shuffle_write_mb" -> all.map(_.shuffleWrite).sum / MB,
      "spark.shuffle_read_mb" -> all.map(_.shuffleRead).sum / MB,
      "spark.spill_mb" -> all.map(_.spill).sum / MB,
      "spark.input_mb" -> all.map(_.input).sum / MB,
      "spark.peak_exec_mem_mb" -> (all.map(_.peakMem) :+ 0L).max / MB,
      "spark.tasks_failed" -> all.map(_.tasksFailed).sum.toDouble)

    // the sink: call and materialization spans that wrote output files
    val writing = spans.filter(s => s.kind != "op" && tr.work.get(s.id).exists(_.output > 0))
    val io = Seq(
      "io.write_s" -> dur(writing),
      "io.output_mb" -> all.map(_.output).sum / MB,
      "io.files" -> all.map(_.filesWritten).sum.toDouble,
      "residue.rdds_max" -> (residue.map(_._1) :+ 0).max.toDouble,
      "residue.storage_mb_max" -> (residue.map(_._2) :+ 0L).max / MB,
      "jvm.gc_s" -> pass.gc_s,
      "jvm.jit_s" -> setupJitS)
    (modules ++ spark ++ io).toMap
  }
}
