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
    val text = SparkEntry.failureText(e)
    assert(text.contains("DIVIDE_BY_ZERO"), text)
    // the call site survives the 300-char cap: the failure locates itself
    assert(text.contains("VerifyGateSpec.scala:"), text)
    assert(text.length <= 300 && !text.contains("\n"), text)
  }

  test("selected: exact names only, in name order") {
    val names = SparkEntry.selected(Some("top_k, q1_agg")).map(_._1)
    assert(names === Seq("q1_agg", "top_k"))
    val all = SparkEntry.selected(None).map(_._1)
    assert(all === SparkEntry.queries.keys.toSeq.sorted)
    // a name that is not registered (no substring match) throws and is
    // named, instead of silently running fewer queries
    val e = intercept[IllegalArgumentException](
      SparkEntry.selected(Some("top_k, q1_agg,q1,dedup")))
    assert(e.getMessage.contains("dedup,q1"), e.getMessage)
  }

  test("Bench.run leaves one metrics record per (query, rep), stage rows summing to its totals") {
    val out = s"${tmp()}/bench_out.json"
    SparkTestSession.releaseAll()
    val before = SparkTestSession.persistedIds.size
    val queries = Seq("huber_mean", "q1_agg", "top_k") // huber_mean cuts a barrier
    val (med, errors) = Bench.run(spark, sf, SparkEntry.selected(Some(queries.mkString(","))), 2, out)
    assert(errors.isEmpty && med.map(_._1) === queries, errors)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val recs = Files.readAllLines(Paths.get(Bench.metricsPath(out))).toArray.toSeq
      .map(l => json.readTree(l.toString))
    assert(recs.map(r => (r.get("query").asText, r.get("rep").asInt)) ===
      (1 to 2).flatMap(rep => queries.map((_, rep))))
    for (r <- recs) {
      val barriers = (0 until r.get("barriers").size).map(r.get("barriers").get(_).asText)
      assert(barriers.contains("huber.hist") === (r.get("query").asText == "huber_mean"), r)
      // the scope released the query's barriers before the record read the registry
      assert(r.get("persisted_rdds").asInt === before, r)
      assert(r.get("error").isNull && r.get("task_s").asDouble > 0, r)
      assert(r.get("jobs").asInt >= 1 && r.get("stages").asInt >= 1, r)
      assert(r.get("stages").asInt === r.get("stage_rows").size, r)
      val rows = (0 until r.get("stage_rows").size).map(r.get("stage_rows").get)
      for ((col, total, scale) <- Seq(("tasks", "tasks", 1), ("task_ms", "task_s", 1000),
          ("gc_ms", "gc_s", 1000), ("shuffle_read_bytes", "shuffle_read_bytes", 1),
          ("shuffle_write_bytes", "shuffle_write_bytes", 1), ("input_bytes", "input_bytes", 1)))
        assert(rows.map(_.get(col).asLong).sum === math.round(r.get(total).asDouble * scale),
          s"$col in $r")
    }
    // job and stage counts do not drift between reps (wall time does)
    def counts(rep: Int) = recs.filter(_.get("rep").asInt == rep)
      .map(r => (r.get("jobs").asInt, r.get("stages").asInt))
    assert(counts(1) === counts(2))
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
