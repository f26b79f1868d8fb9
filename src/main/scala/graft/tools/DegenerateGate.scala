package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry

/** Degenerate-corpus gate (VERDICT r08 #9): Spark 4 ANSI mode ERRORS
  * on division by zero for every numeric type — including double,
  * where DuckDB yields NULL — so any query with an unguarded zero-able
  * denominator is one odd corpus away from a runtime crash the small-
  * SF oracle can't see (it only exercises the denominators the test
  * data happens to produce). This gate builds the nastiest legal
  * corpus — ONE row per fact table, ONE user, ONE event type, ZERO
  * variance, a single calendar instant — and runs EVERY registered
  * query against it. n−1 terms, empty experiment arms, zero spans,
  * and all-equal-values variances all collapse to zero here, and every
  * query is fully materialized (`SparkEntry.materialize`: every row and
  * column, where a `count()` would prune unread columns), so every
  * unguarded division fires. A query may legitimately return zero
  * rows; it must never throw.
  *
  * Shared by DivisionGuardSpec (every `sbt test`) and runnable
  * standalone: `sbt "runMain graft.tools.DegenerateGate"`.
  */
object DegenerateGate {

  /** Write the 1-row corpus; returns its directory. */
  def writeCorpus(spark: SparkSession): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-degen").toString
    import spark.implicits._
    def save(df: DataFrame, t: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    val ts = java.sql.Timestamp.valueOf("2024-06-15 12:00:00")
    val day = java.sql.Date.valueOf("2024-06-15")
    save(Seq((0L, "AMERICA")).toDF("r_regionkey", "r_name"), "region")
    save(Seq((0L, "BRAZIL", 0L)).toDF("n_nationkey", "n_name", "n_regionkey"),
      "nation")
    save(Seq((2L, "Customer#000000002", 0L, 100.0, "BUILDING"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      "customer")
    save(Seq((1L, "Supplier#000000001", 0L, 100.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"), "supplier")
    save(Seq((1L, "green metal steel tin box", "Brand#11", "PROMO BRUSHED TIN",
      5, 100.0)).toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
      "p_retailprice"), "part")
    save(Seq((1L, 2L, "O", 100.0, ts, "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"), "orders")
    save(Seq((1L, 1L, 1L, 1, 5.0, 100.0, 0.05, 0.02, "N", "O", ts))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate"), "lineitem")
    // one user, one instant, one value, one event per type (the full
    // type set is a documented contract — attribution_markov's oracle
    // gates on it): n=1 per (type, day), var=0, span=0, and
    // (user_id=2) % 2 = 0 leaves every odd-keyed experiment arm EMPTY
    // purchase LAST in (ts, event_id) order: attribution_markov cuts
    // journeys at the first purchase and loudly requires the full
    // channel set [click, error, signup, view] before it
    save(Seq("click", "error", "signup", "view", "purchase").zipWithIndex
      .map { case (t, i) => (i + 1L, ts, 2L, t, 5.0, """{"k": 7}""") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      "events")
    save(Seq((1L, "the quick brown fox jumps over the lazy dog", "en",
      "web", 44L)).toDF("doc_id", "text", "lang", "source", "n_chars"),
      "documents")
    save(Seq((1L, Array.fill(64)(0.5f), 0L))
      .toDF("vec_id", "embedding", "label"), "embeddings")
    locally { val _ = day }
    dir
  }

  /** Fully materialize every selected query against `dir`; return
    * (name → error) for queries that THREW (empty results are fine). */
  def run(spark: SparkSession, dir: String): Map[String, String] = {
    graft.Caches.clearAll()
    val out = scala.collection.mutable.Map.empty[String, String]
    for ((name, fn) <- SparkEntry.selected())
      SparkEntry.run(SparkEntry.materialize(fn(spark, dir)))._1.left
        .foreach(e => out(name) = SparkEntry.failureText(e))
    graft.Caches.clearAll()
    out.toMap
  }

  def main(args: Array[String]): Unit = {
    val total = SparkEntry.selected().size // an unknown name fails before the session
    val spark = SparkEntry.session("graft-degen-gate", None, "ERROR")
    val dir = writeCorpus(spark)
    val errs = run(spark, dir)
    errs.toSeq.sortBy(_._1).foreach { case (n, e) => println(s"DEGEN FAIL $n: $e") }
    println(s"DEGEN SUMMARY: ${errs.size} of $total queries threw")
    spark.stop()
    if (errs.nonEmpty) sys.exit(1)
  }
}
