package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{GraftSession, SparkEntry}
import graft.etl.Loader

/** Closed-loop, single-client driver for one workload run: set-up
  * from JVM start (build the session through `GraftSession.build`,
  * stage the seeded inputs), then one timed pass in the seed's op order,
  * traced with `--trace 1`. Every op is timed on its first run in the
  * JVM, the cost a batch job or a new analyst session pays.
  *
  * With `--results 1` every query result is written as parquet instead
  * of to the `noop` sink, so the caller can check it against the DuckDB
  * oracle and keep its fingerprints as the expected values of the ops.
  * Writes one JSON document (`--out`) with the raw op and pass records;
  * run.py turns it into the metrics and checks it. */
object Harness {

  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def processCpuS: Double = cpuBean.getProcessCpuTime / 1e9
  private def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  private def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Order-insensitive fingerprint of every row and column: row count
    * plus two sums of per-row hashes over the columns sorted by name.
    * Doubles are hashed at float precision, so a last-bit difference
    * from aggregation order does not read as a wrong answer. */
  def fingerprint(df: DataFrame): Seq[Column] = {
    def canon(c: Column, t: DataType): Column = t match {
      case DoubleType => c.cast(FloatType)
      case ArrayType(et, _) => transform(c, x => canon(x, et))
      case StructType(fs) => when(c.isNull, lit(null)).otherwise(
        struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
      case MapType(kt, vt, _) =>
        canon(array_sort(map_entries(c)), ArrayType(StructType(Seq(
          StructField("key", kt), StructField("value", vt)))))
      case _ => c
    }
    val cols = df.schema.fields.sortBy(_.name).toSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    Seq(count(lit(1)).as("n"), sum(hash(cols: _*).cast("long")).as("h32"),
      bit_xor(xxhash64(cols: _*)).as("h64"))
  }

  final case class OpRec(op: String, seeded: Boolean, latency_s: Double,
      fp: String, error: String, output: String)

  final case class PassRec(wall_s: Double, cpu_s: Double, gc_s: Double,
      start_ms: Long, end_ms: Long)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val wl = Workloads.all.find(_.name == a("workload")).getOrElse(
      sys.error(s"unknown workload ${a("workload")}"))
    val seed = a("seed").toLong
    val trace = a.get("trace").contains("1")
    val results = a.get("results").contains("1")
    val cores = a("cores").toInt
    val root = a("tmp")
    val lake = s"$root/lake"
    val staged = s"$root/staged"
    val out = s"$root/out"
    val runId = s"${wl.name}-$seed-${ProcessHandle.current().pid()}"

    // ---- set-up, timed from JVM start: class loading, JIT, session
    // build and staging of the seeded inputs
    stageLake(a("lake"), lake)
    val spark = GraftSession.build(s"local[$cores]", "graftbench", Some(lake), cores)
    spark.sparkContext.setLogLevel("ERROR")
    wl.stage(spark, seed, lake, staged)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val setupJitS = jitS
    val sc = spark.sparkContext
    Files.writeString(Paths.get(s"$root/oracle_sql.json"), mapper.writeValueAsString(
      SparkEntry.oracleSql.filter { case (k, _) => wl.ops.exists(_.name == k) }))

    // ---- one timed pass, closed loop
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val residue = mutable.ArrayBuffer.empty[(Int, Long)]
    val tracer = if (trace) Some(new Tracer(sc, runId)) else None
    val ctx = Ctx(spark, lake, staged, out)
    val cpu0 = processCpuS
    val gc0 = gcS
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    for (op <- wl.order(seed)) {
      ops += runOp(ctx, op, tracer, results)
      if (trace) residue += ((sc.getPersistentRDDs.size,
        sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum))
    }
    val pass = PassRec(secs(t0), processCpuS - cpu0, gcS - gc0, startMs,
      System.currentTimeMillis())

    val layers = tracer.map { tr =>
      tr.drain()
      tr.detach()
      writeSpans(tr, a("spans"))
      Layers.compute(tr, pass, residue.toSeq, cores, setupJitS)
    }
    // heap the finished run still holds, session alive, after a full GC
    System.gc()
    val retainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val rows = graft.Tables.names.map(t => t -> rowsOf(s"$lake/$t.parquet")).toMap
    spark.stop()

    val result = Map(
      "workload" -> wl.name, "seed" -> seed, "trace" -> trace,
      "setup_s" -> setupS, "pass" -> pass, "ops" -> ops.toSeq,
      "per_layer" -> layers.map(_ ++ Map("jvm.retained_mb" -> retainedMb)).orNull,
      "host" -> Map(
        "cores" -> cores, "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark" -> org.apache.spark.SPARK_VERSION,
        "java" -> System.getProperty("java.version"),
        "rows" -> rows))
    Files.writeString(Paths.get(a("out")), mapper.writeValueAsString(result))
  }

  /** Call, then materialize with the fingerprint attached; failures are
    * recorded, never thrown, so one bad op cannot end the run. */
  private def runOp(ctx: Ctx, op: Op, tracer: Option[Tracer],
      results: Boolean): OpRec = {
    def within[T](kind: String)(body: => T): T =
      tracer.fold(body)(_.span(op.name, kind, op.module)(body))
    var output = ""
    val t0 = System.nanoTime()
    try {
      val fp = within("op") {
        val df = within("call")(op.call(ctx))
        val obs = Observation()
        val fpCols = fingerprint(df)
        val observed = df.observe(obs, fpCols.head, fpCols.tail: _*)
        within("exec") {
          op.sink match {
            case LoaderWrite(dir, loadType) =>
              output = s"${ctx.out}/$dir"
              Loader.write(observed, output, loadType)
            case Noop if results =>
              output = s"${ctx.out}/result/${op.name}"
              observed.write.mode("overwrite").parquet(output)
            case Noop =>
              observed.write.format("noop").mode("overwrite").save()
          }
        }
        val row = Await.result(obs.future, 120.seconds)
        Seq(0, 1, 2).map(i => if (row.isNullAt(i)) "null" else row.get(i).toString).mkString(":")
      }
      OpRec(op.name, op.seeded, secs(t0), fp, null, output)
    } catch {
      case e: Throwable =>
        OpRec(op.name, op.seeded, secs(t0), null,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}", output)
    }
  }

  /** Copy the generated lake into the run's own root, so every write
    * and every catalog side effect of the run stays under that root. */
  private def stageLake(src: String, dst: String): Unit = {
    Files.createDirectories(Paths.get(dst))
    new File(src).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      Files.copy(f.toPath, Paths.get(dst, f.getName), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def rowsOf(path: String): Long = {
    val f = new File(path)
    if (!f.exists) 0L
    else {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), new org.apache.hadoop.conf.Configuration())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }
  }

  private def writeSpans(tr: Tracer, path: String): Unit = {
    val lines = tr.spans.map(s => mapper.writeValueAsString(Map(
      "id" -> s.id, "run" -> s.run, "name" -> s.name, "kind" -> s.kind, "module" -> s.module,
      "parent" -> s.parent, "start_ms" -> s.start, "end_ms" -> s.end)))
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), lines.asJava)
  }
}
