package graft.tools

/** Dump SparkEntry.oracleSql as JSON without running the queries —
  * lets check.py re-verify oracle-side changes against an existing
  * Verify output directory. Triage tooling, not surface. */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val entries = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).map {
      case (k, v) => s"${graft.Verify.jsonString(k)}: ${graft.Verify.jsonString(v)}"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      entries.mkString("{", ",\n", "}"))
    println(s"wrote ${entries.size} oracle entries to $out")
  }
}
