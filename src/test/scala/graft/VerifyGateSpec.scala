package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** §2 round-7 gate guard: the Verify loud-failure contract.
  *
  * Round 5 shipped with 5 queries throwing at runtime and NOBODY
  * noticed — a failed query simply had no output directory, so it
  * vanished from the driver's DuckDB compare and correctness coverage
  * silently shrank. This spec pins the contract that makes that
  * impossible: every selected query either dumps parquet or is
  * recorded by NAME+ERROR in verify_failures.json and the returned
  * failure list, while the healthy queries still dump. */
class VerifyGateSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}

  private def tmp(): String =
    Files.createTempDirectory("verify-gate").toString

  private val good: (SparkSession, String) => DataFrame =
    (s, dir) => Tables.load(s, dir, "region")
  private val boom: (SparkSession, String) => DataFrame =
    (_, _) => throw new IllegalStateException("planted failure")
  // fails at ACTION time, not plan time — the round-5 breakage shape
  private val lateBoom: (SparkSession, String) => DataFrame =
    (s, dir) => {
      import org.apache.spark.sql.functions._
      Tables.load(s, dir, "region")
        .select(raise_error(lit("late planted failure")).as("x"))
    }

  test("a throwing query lands in the failure file; healthy ones still dump") {
    val out = tmp()
    val fails = Verify.run(spark, sf, out,
      Map("ok_probe" -> good, "bad_probe" -> boom, "late_bad_probe" -> lateBoom),
      Map("ok_probe" -> "SELECT 1"))
    assert(fails.map(_._1).toSet === Set("bad_probe", "late_bad_probe"))
    assert(fails.toMap.apply("bad_probe").contains("planted failure"))
    // the healthy query's parquet exists and reads back
    assert(spark.read.parquet(s"$out/ok_probe").count() > 0)
    // the failure file names both failures with their errors
    val fj = Files.readString(Paths.get(s"$out/verify_failures.json"))
    assert(fj.contains("bad_probe") && fj.contains("IllegalStateException"))
    assert(fj.contains("late_bad_probe"))
    // oracle_sql.json still written (the compare input survives failures)
    assert(Files.readString(Paths.get(s"$out/oracle_sql.json"))
      .contains("ok_probe"))
  }

  test("clean run: empty failure file, every query dumped") {
    val out = tmp()
    val fails = Verify.run(spark, sf, out,
      Map("r" -> good), Map("r" -> "SELECT * FROM region"))
    assert(fails.isEmpty)
    assert(Files.readString(Paths.get(s"$out/verify_failures.json")) === "{}")
    assert(spark.read.parquet(s"$out/r").count() > 0)
  }

  test("jsonString: every control char, quote and backslash parse back unchanged") {
    val raw = (0 until 0x20).map(_.toChar).mkString + "\"\\ SELECT 'x'"
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Verify.jsonString(raw), classOf[String])
    assert(parsed === raw)
  }

  test("materialize computes every column: a division by zero a count() prunes still throws") {
    import org.apache.spark.sql.functions._
    val df = spark.range(1).select((lit(1.0) / lit(0.0)).as("x"))
    assert(df.count() === 1)
    val e = intercept[Exception](SparkEntry.materialize(df))
    assert(SparkEntry.failureText(e).contains("DIVIDE_BY_ZERO"), SparkEntry.failureText(e))
  }

  test("selected: exact names only, in name order") {
    val names = SparkEntry.selected(Some("top_k, q1_agg,q1,dedup")).map(_._1)
    assert(names === Seq("q1_agg", "top_k"))
    val all = SparkEntry.selected(None).map(_._1)
    assert(all === SparkEntry.queries.keys.toSeq.sorted)
  }

  test("failureText: root cause, one line, at most 300 chars") {
    val e = new RuntimeException("outer",
      new IllegalStateException("line one\nline two " + "x" * 400))
    val t = SparkEntry.failureText(e)
    assert(t.startsWith("IllegalStateException: line one line two"))
    assert(t.length === 300)
  }

  test("registry totality: every SparkEntry query has oracle SQL (driver compare covers all)") {
    // duplicated from EntrySpec on purpose: THIS spec is the gate
    // contract in one place — if a query is registered without an
    // oracle, the driver records only a weaker rows-only check and
    // coverage shrinks without any red light
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
  }
}
