package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main. Times a full materialization (`SparkEntry.materialize`,
  * a `noop` write) of every selected query on
  * `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_BENCH_REPS` times each
  * (default 3), and reports the per-query MEDIAN so one contended rep
  * on a shared host cannot masquerade as a plan regression (this cost
  * rounds 2 and 3 a triage cycle each). Prints ONE sorted JSON line
  * (the driver contract) and also writes the same JSON to
  * `SPARK_GRAFT_OUT` (default `bench_out.json`) so a truncated log tail
  * can't lose queries. Each (query, rep) leaves a [[QueryMetrics]]
  * record in `<SPARK_GRAFT_OUT stem>.metrics.jsonl`: one query's profile
  * is `SPARK_GRAFT_ONLY=<query> SPARK_GRAFT_BENCH_REPS=2`.
  */
object Bench {
  import Verify.jsonString

  /** `<dir>/<stem>.metrics.jsonl` for `out` = `<dir>/<stem>[.<ext>]`. */
  def metricsPath(out: String): String =
    out.replaceFirst("""(\.[^./]*)?$""", ".metrics.jsonl")

  /** The timed sweep (`reps` ≥ 1), split from `main` so a spec can
    * drive it. Returns each query's median seconds (-1 if it failed) in
    * `queries` order and the failures' texts; writes the records to
    * `metricsPath(out)`. The timed window is exactly the
    * materialization; the listener drain and the record come after it. */
  def run(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)], reps: Int,
      out: String): (Seq[(String, Double)], Map[String, String]) = {
    // rep-major (full sweep per rep, queries inside): back-to-back reps
    // of one query share a hot cache the driver run wouldn't, and the
    // sweep spacing makes the medians robust to a contention burst
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
    val errors = scala.collection.mutable.Map.empty[String, String]
    val metrics = new QueryMetrics(spark)
    val records = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(metricsPath(out)))
    spark.sparkContext.addSparkListener(metrics)
    try {
      for (rep <- 1 to reps) {
        // drop memoized per-dir results (imputation stats, cluster labels)
        // so every rep times query EXECUTION — otherwise reps 2+ of
        // dedup_clusters/medians_modes would measure a persisted-cache hit
        // and the median would understate real cost. Within one rep,
        // consumers still share (the production once-per-crawl shape).
        Caches.clearAll()
        for ((name, fn) <- queries if !errors.contains(name)) {
          metrics.reset()
          var sec = 0.0
          // the query's barriers are released after the timed window,
          // before the record reads the persisted RDDs
          val (result, barriers) = SparkEntry.run {
            val t0 = System.nanoTime()
            try SparkEntry.materialize(fn(spark, sfDir))
            finally sec = (System.nanoTime() - t0) / 1e9
          }
          result.left.foreach { e =>
            errors(name) = SparkEntry.failureText(e)
            System.err.println(s"BENCH FAIL $name: ${errors(name)}")
            // full stack: an OOM's allocation site is the whole triage
            e.printStackTrace()
          }
          if (!errors.contains(name)) times(name) = sec :: times.getOrElse(name, Nil)
          records.write(metrics.record(name, rep, sec, errors.get(name), barriers) + "\n")
          records.flush() // a sweep cut short keeps every finished record
        }
      }
    } finally {
      spark.sparkContext.removeSparkListener(metrics)
      records.close()
    }
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // A failed query's wall time is reported as -1 (never counted into
    // the total as if it ran) and its name lands in "failed".
    // 4-dp times: full nanosecond digits made the 112-query JSON line
    // outgrow the driver's fixed-size log-tail capture (BENCH_r05's
    // parsed:null) — 0.1 ms precision is below host noise anyway
    val med = queries.map { case (name, _) =>
      name -> (if (errors.contains(name)) -1.0
               else math.rint(median(times(name)) * 1e4) / 1e4)
    }
    (med, errors.toMap)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    require(reps >= 1, s"SPARK_GRAFT_BENCH_REPS must be >= 1, got $reps")
    val out = sys.env.getOrElse("SPARK_GRAFT_OUT", "bench_out.json")
    // alphabetical order, so the same queries absorb residual warm-up
    // every round (SPARK_GRAFT_ONLY=a,b,c times a subset)
    val ordered = SparkEntry.selected()
    val spark = SparkEntry.session("graft-bench", Some(sfDir))
    // Untimed session warmup: JIT/codegen bootstrap + parquet footers,
    // so the first measured query isn't charged for JVM cold start.
    try {
      graft.Tables.names.foreach(n => graft.Tables.load(spark, sfDir, n).count())
    } catch { case _: Throwable => () }
    val (med, errors) = run(spark, sfDir, ordered, reps, out)
    val qs = med.map { case (k, v) => s"${jsonString(k)}:$v" }.mkString("{", ",", "}")
    val failedJson = med.collect { case (k, v) if v < 0 => jsonString(k) }
      .mkString("[", ",", "]")
    val total = math.rint(med.collect { case (_, v) if v >= 0 => v }.sum * 1e4) / 1e4
    // the artifact records the driver heap: every sweep is implicitly a
    // memory-bounded proof (the run JVM gets -Xmx from SPARK_DRIVER_MEM,
    // default 8g — not the host's physical memory)
    val xmx = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getMax / (1024L * 1024L)
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":${jsonString(sfDir)},"reps":$reps,"heap_mb":$xmx}"""
    println(line)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    // The driver's artifact keeps only a fixed 2000-char stdout TAIL
    // (sbt's epilogue included), so the full 118-query line above is
    // front-truncated there and has parsed as null since round 1. Print
    // a compact summary LAST — total, every failure with its error, the
    // slowest queries, and a pointer to the full table — small enough
    // that the tail always holds it whole, so the driver artifact is
    // finally self-contained and machine-parseable.
    val slowest = med.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (k, v) => s"${jsonString(k)}:$v" }.mkString("{", ",", "}")
    val errJson = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jsonString(k)}:${jsonString(v)}" }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${med.size},""" +
      s""""failed":$failedJson,"errors":$errJson,"slowest":$slowest,""" +
      s""""sf":${jsonString(sfDir)},"reps":$reps,"full":"bench_out.json"}""")
    spark.stop()
  }
}
