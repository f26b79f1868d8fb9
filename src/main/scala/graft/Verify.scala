package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Correctness dump: each selected SparkEntry query's result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (`tools/check.py`). */
object Verify {

  /** JSON string literal: escapes backslash, quote, and ALL control
    * chars (<0x20). A raw tab or CR in hand-written oracle SQL would
    * otherwise make `json.load` reject the whole file and lose the
    * correctness compare. The one escaper every JSON writer here uses
    * (Verify, Bench, DumpOracle). */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The dump loop, separated from `main` so the loud-failure contract
    * is spec-testable (VerifyGateSpec): every selected query either
    * writes `outDir/<name>/` or lands in the returned failure list AND
    * `outDir/verify_failures.json` — a throwing query can never just
    * vanish from the driver's compare (the round-5 silent-shrink hole).
    * `oracle_sql.json` holds the oracle SQL of `queries` only, so the
    * compare reads no query this run did not dump.
    * Returns failures in run order as (name, "Class: message"). */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      queries: Iterable[(String, (SparkSession, String) => DataFrame)],
      oracleSql: Map[String, String]): List[(String, String)] = {
    new java.io.File(outDir).mkdirs()
    var failures = List.empty[(String, String)]
    queries.foreach { case (name, fn) =>
      SparkEntry.run(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name"))._1.left.foreach { e =>
        val msg = SparkEntry.failureText(e)
        System.err.println(s"[verify] $name failed: $msg")
        failures ::= (name, msg)
      }
    }
    val ran = queries.map(_._1).toSet
    val json = oracleSql.filter { case (k, _) => ran(k) }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val ordered = failures.reverse
    val failJson = ordered
      .map { case (k, m) => s"${jsonString(k)}: ${jsonString(m)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"), failJson)
    if (ordered.nonEmpty)
      // denominator = the set actually run, not the registry size —
      // under SPARK_GRAFT_ONLY the registry count misstates coverage
      System.err.println(s"VERIFY INCOMPLETE: ${ordered.size} of " +
        s"${queries.size} queries failed: ${ordered.map(_._1).mkString(",")}")
    ordered
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY=a,b,c dumps a subset
    val queries = SparkEntry.selected()
    val spark = SparkEntry.session("graft-verify", Some(sfDir))
    run(spark, sfDir, outDir, queries, SparkEntry.oracleSql)
    spark.stop()
  }
}
