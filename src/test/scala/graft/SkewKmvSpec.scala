package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Skew
import graft.functions.KMinValues.kmin_values

class SkewKmvSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf, withConf}

  test("salted join returns exactly the plain join's rows") {
    val li = Tables.lineitem(spark, sf)
      .withColumnRenamed("l_orderkey", "o_orderkey")
    val ord = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val plain = li.join(ord, "o_orderkey")
    val salted = Skew.saltedJoin(li, ord, "o_orderkey", 8)
    assert(salted.count() == plain.count())
    assert(salted.columns.sorted.sameElements(plain.columns.sorted))
    val a = plain.agg(sum("o_totalprice"), sum("l_quantity")).head()
    val b = salted.agg(sum("o_totalprice"), sum("l_quantity")).head()
    assert(a == b)
  }

  test("skew-safe funnel matches the window funnel on a planted hot key") {
    import spark.implicits._
    // power-law shape: ~30% of all events belong to ONE user — the
    // window formulation funnels all of them through a single sorted
    // partition; the aggregation formulation collapses them map-side
    // (partial agg) and its joins are AQE-skew-splittable
    val tmp = java.nio.file.Files.createTempDirectory("graft-skew").toString
    val r = new scala.util.Random(7)
    val types = Array("view", "click", "purchase", "error", "signup")
    val rows = (0 until 20000).map { i =>
      val user = if (i % 10 < 3) 0L else 1L + r.nextInt(200)
      (i.toLong, new java.sql.Timestamp(1700000000000L + r.nextInt(1000000)),
        user, types(r.nextInt(5)), r.nextDouble(), """{"k": 1}""")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val win = graft.analytics.Queries.eventsFunnel(spark, tmp)
      .collect().map(_.toSeq).toSeq
    val agg = graft.analytics.Queries.eventsFunnelSkewSafe(spark, tmp)
      .collect().map(_.toSeq).toSeq
    assert(agg == win, s"agg=$agg win=$win")
    // the skew-safe plan contains NO Window operator (the unsplittable
    // shape) — its per-user work is partial-aggregated instead
    val plan = graft.analytics.Queries.eventsFunnelSkewSafe(spark, tmp)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"skew-safe funnel still windows:\n$plan")
    assert(plan.contains("partial_min") || plan.contains("partial min") ||
      "HashAggregate".r.findAllIn(plan).length >= 2,
      s"expected partial aggregation:\n$plan")
  }

  test("AQE splits the skewed join partition when thresholds are met") {
    import spark.implicits._
    // planted 30%-hot-key join under aggressive AQE skew thresholds:
    // the OptimizeSkewedJoin rule must mark the hot partition split —
    // this is the runtime half of the skew story (the salted join
    // below is the static half, for engines/joins AQE can't reach)
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val r = new scala.util.Random(11)
      val big = (0 until 50000).map { i =>
        (if (i % 10 < 3) 0L else 1L + r.nextInt(500), s"payload-$i-${"x" * 40}")
      }.toDF("k", "payload")
      val dim = (0L until 501L).map(k => (k, s"name-$k")).toDF("k", "name")
      val joined = big.join(dim, "k")
      // materialize THIS frame's own QueryExecution (count() would wrap
      // it in a fresh plan and leave this one at its initial state)
      assert(joined.collect().length == 50000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true") || finalPlan.contains("skewed"),
        s"AQE did not mark a skew split:\n$finalPlan")
    }
  }

  test("KMV buffer keeps the k smallest distinct values and merges") {
    import spark.implicits._
    val df = (1L to 1000L).map(i => i * 37 % 1009).toDF("h")
      .repartition(7) // force partial buffers + merge
    val kmv = df.agg(kmin_values(col("h"), 10)).head().getSeq[Long](0)
    val expected = (1L to 1000L).map(i => i * 37 % 1009).distinct.sorted.take(10)
    assert(kmv == expected)
  }

  test("KMV distinct estimate lands near the exact count") {
    import graft.text.TextFunctions.hash64
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
    val r = ev.agg(
      kmin_values(hash64(col("user_id").cast("string")), 64).as("kmv"),
      countDistinct(col("user_id")).as("exact")).head()
    val kth = r.getSeq[Long](0).last.toDouble
    val exact = r.getLong(1).toDouble
    val est = 63.0 / (kth / 1152921504606846976.0)
    assert(math.abs(est - exact) / exact < 0.4, s"est $est exact $exact")
  }
}
