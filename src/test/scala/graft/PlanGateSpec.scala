package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.tools.PlanGate

/** The §2.334 whole-surface plan gate's DETECTOR, proven on synthetic
  * plans: `graft.tools.PlanGate` runs over every registered query (the
  * PlanGate line of the verify recipe, usage in the README's tools list;
  * it must exit 0); this spec pins that the gate actually catches each
  * anti-pattern class — a gate that flags nothing is indistinguishable
  * from a gate that checks nothing.
  */
class PlanGateSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}

  private def vio(df: org.apache.spark.sql.DataFrame): Seq[String] =
    PlanGate.violations(df.queryExecution.sparkPlan)

  private lazy val li = Tables.lineitem(spark, sf)

  test("catches a cartesian product") {
    val v = vio(li.select("l_orderkey").crossJoin(
      li.select(col("l_partkey"))))
    assert(v.exists(_.startsWith("cartesian")) ||
      v.exists(_.startsWith("bnlj-unbounded")), v.toString)
  }

  test("catches a data-sized broadcast nested-loop join") {
    val v = vio(li.as("a").join(
      broadcast(li.select(col("l_orderkey").as("ok"), col("l_partkey"))),
      col("a.l_orderkey") =!= col("ok")))
    assert(v.exists(_.startsWith("bnlj-unbounded")), v.toString)
  }

  test("accepts a bounded (aggregate-output) broadcast nested-loop join") {
    val stats = li.agg(avg("l_quantity").as("mean_q"))
    val v = vio(li.crossJoin(broadcast(stats)))
    assert(v.isEmpty, v.toString)
  }

  test("catches a global window over a raw scan, accepts one over an " +
       "aggregate") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("l_orderkey")
    val bad = vio(li.withColumn("rn", row_number().over(w)))
    assert(bad.exists(_.startsWith("global-window")), bad.toString)
    val agg = li.groupBy("l_returnflag").agg(sum("l_quantity").as("s"))
    val good = vio(agg.withColumn("rn",
      row_number().over(Window.orderBy("s"))))
    assert(good.isEmpty, good.toString)
  }

  test("catches an interpreted lambda in a corpus scan, accepts one over " +
       "an aggregate and one under a pipelined limit") {
    val docs = Tables.documents(spark, sf)
    val bad = vio(docs.select(col("doc_id"),
      expr("filter(split(text, ' '), x -> length(x) > 3)").as("toks")))
    assert(bad.exists(_.startsWith("lambda-on-unbounded")), bad.toString)
    val agg = docs.groupBy("lang").agg(collect_list("source").as("ss"))
    val good = vio(agg.select(col("lang"),
      expr("filter(ss, x -> x != 'web')").as("f")))
    assert(good.isEmpty, good.toString)
    val limited = vio(docs.limit(5).select(col("doc_id"),
      expr("filter(split(text, ' '), x -> length(x) > 3)").as("toks")))
    assert(limited.isEmpty, limited.toString)
  }

  test("flagship queries pass the gate (full surface runs in the chain)") {
    // a cheap representative per family — the 287-query sweep is the
    // closing chain's runMain graft.tools.PlanGate
    for (q <- Seq("q1_agg", "dedup_exact", "ann_graph", "text_quality",
        "events_funnel", "rank_overlap", "ann_lsh_multiprobe",
        "dedup_winnow", "sq8_error_report", "url_canonicalize")) {
      Caches.clearAll()
      val v = vio(SparkEntry.queries(q)(spark, sf))
      assert(v.isEmpty, s"$q: $v")
    }
  }
}
