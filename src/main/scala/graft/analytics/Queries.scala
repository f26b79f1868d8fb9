package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Relational analytics operators — SURVEY.md §2 items 8–20.
  *
  * Metabase-dashboard equivalents of the reference (top-N, per-group
  * aggregates, distributions, time series; cf. /root/reference/README.md
  * "Report Visualization") re-expressed over the test star schema.
  *
  * Scale notes: every query filters/projects before shuffling (parquet
  * pushdown), keeps aggregation partial (map-side combine), and
  * broadcasts dimension tables. The trailing orderBy exists only for
  * oracle determinism — Catalyst's EliminateSorts drops it under the
  * bench's `count()` action.
  */
object Queries {

  /** Grouped aggregation with map-side partial agg (TPC-H Q1 shape). */
  /** Money sums are EXACT integer units summed in DECIMAL(38,0):
    * price is a 2-dp value and discount a 2-dp fraction, so
    * price·(1−disc) is exactly a 4-dp value — cents·(100−disc_e2)
    * e4-unit integers. The float formulation summed ~6 M doubles and
    * rounded AFTER: at sf1 the engine-local addition order flipped the
    * 4th decimal on one group (the r10 attribution float-tie class —
    * this is the first op the FIRST committed sf1 oracle run caught). */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 4).as("sum_qty"),
        (sum(expr("CAST(CAST(round(l_extendedprice * 100) AS BIGINT) " +
          "AS DECIMAL(38,0))")).cast("double") / 100.0).as("sum_price"),
        (sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)" +
          " * CAST((100 - CAST(round(l_discount * 100) AS BIGINT))" +
          " AS DECIMAL(38,0))")).cast("double") / 10000.0)
          .as("sum_disc_price"),
        round(sum(expr("CAST(round(l_discount * 100) AS BIGINT)"))
          .cast("double") / (count(lit(1)) * 100.0), 6).as("avg_disc"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 4) AS sum_qty,
      |  CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
      |    AS HUGEINT)) AS DOUBLE) / 100.0 AS sum_price,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |    * CAST(100 - CAST(round(l_discount * 100) AS BIGINT)
      |      AS HUGEINT)) AS DOUBLE) / 10000.0 AS sum_disc_price,
      |  round(CAST(sum(CAST(round(l_discount * 100) AS BIGINT))
      |    AS DOUBLE) / (count(*) * 100.0), 6) AS avg_disc,
      |  count(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** §2.9 fact⋈fact⋈dim join with broadcast dim + pushdown (TPC-H Q3
    * shape): revenue of BUILDING-segment orders not yet shipped. */
  def q3Join(spark: SparkSession, dir: String): DataFrame = {
    val cut = "1997-01-01"
    val cust = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(spark, dir).filter(col("o_orderdate") < lit(cut))
    val li = Tables.lineitem(spark, dir).filter(col("l_shipdate") > lit(cut))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(10)
  }

  val q3JoinSql: String =
    """SELECT l_orderkey, o_orderdate,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** §2.10 top-K per group via window rank (K=3 orders per priority). */
  def topK(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
      .orderBy("o_orderpriority", "rk")
  }

  val topKSql: String =
    """SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders) t
      |WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin

  /** §2.11 exact distinct aggregation (approx variant spec-tested). */
  def distinctCount(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("user_id"), to_date(col("ts"))).as("n_user_days"))
      .orderBy("event_type")

  val distinctCountSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users,
      |  count(DISTINCT (user_id, CAST(ts AS DATE))) AS n_user_days
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** §2.12 pivot via Spark's pivot API (oracle: conditional agg). */
  def conditionalPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("o_orderpriority")

  val conditionalPivotSql: String =
    """SELECT o_orderpriority,
      |  CAST(coalesce(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END), 0) AS BIGINT) AS "F",
      |  CAST(coalesce(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END), 0) AS BIGINT) AS "O",
      |  CAST(coalesce(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END), 0) AS BIGINT) AS "P"
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** §2.13 time-series rollup: events per day per type. */
  def timeSeries(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("day", "event_type")

  val timeSeriesSql: String =
    """SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, event_type,
      |  count(*) AS n, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  /** §2.14 running-sum + rank window over a keyed sequence. */
  def windowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(asc("o_orderdate"), asc("o_orderkey"))
    Tables.orders(spark, dir)
      .filter(col("o_custkey") <= 100)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        round(sum(col("o_totalprice")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4).as("running_total"),
        rank().over(w).as("rk"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val windowRunningSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_total,
      |  rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rk
      |FROM orders WHERE o_custkey <= 100
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Exact interpolated percentiles per group WITHOUT buffering the
    * group's values (round 13): Spark's `percentile` aggregate holds
    * every (value → count) pair of a group in ONE task's hash map —
    * 30 M lineitem rows over 3 return flags OOM'd the 8 GiB sf5
    * Verify (invisible to every bench: `count()` over the aggregate
    * prunes the percentile expressions away, the r9 count-over-agg
    * trap). `l_extendedprice` is a 2-decimal grid, so the per-group
    * integer-cent HISTOGRAM (map-side-combined groupBy, bounded by
    * the grid — ~10⁷ bins max regardless of corpus size) carries the
    * full distribution; a cumulative window over bins yields any
    * order statistic, and `p·(n−1)` interpolation runs on exact
    * integers (anomaly_mad / trimmed_mean's recipe, generalized).
    * Each requested percentile is (alias, num, den): position
    * h = (n−1)·num/den, value = v⌊h⌋₊₁ + frac·(v⌊h⌋₊₂ − v⌊h⌋₊₁). */
  private[graft] def centPercentiles(rows: DataFrame, group: String,
      valueCol: String, ps: Seq[(String, Int, Int)]): DataFrame = {
    val hist = rows
      .select(col(group), expr(s"CAST(round($valueCol * 100) AS BIGINT)").as("vc"))
      .groupBy(group, "vc").agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy(group).orderBy("vc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy(group)
    val cum = hist.withColumn("cum", sum("c").over(wc))
      .withColumn("n", sum("c").over(wall))
    val aggs = ps.flatMap { case (alias, num, den) =>
      val k = expr(s"((n - 1) * $num) div $den")
      Seq(min(when(col("cum") >= k + 1, col("vc"))).as(s"_lo_$alias"),
        min(when(col("cum") >= k + 2, col("vc"))).as(s"_hi_$alias"),
        max(expr(s"((n - 1) * $num) % $den")).as(s"_rem_$alias"))
    }
    val out = ps.map { case (alias, _, den) =>
      val lo = col(s"_lo_$alias") / 100.0
      val hi = coalesce(col(s"_hi_$alias"), col(s"_lo_$alias")) / 100.0
      (lo + (hi - lo) * (col(s"_rem_$alias") / lit(den.toDouble))).as(alias)
    }
    cum.groupBy(group).agg(aggs.head, aggs.tail: _*)
      .select(col(group) +: out: _*)
  }

  /** §2.15 exact percentiles (linear interpolation) per group — via
    * the grid-bounded [[centPercentiles]] histogram, not the
    * value-buffering `percentile` aggregate. */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    centPercentiles(Tables.lineitem(spark, dir), "l_returnflag",
        "l_extendedprice", Seq(("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4)))
      .select(col("l_returnflag"), round(col("p25"), 4).as("p25"),
        round(col("p50"), 4).as("p50"), round(col("p75"), 4).as("p75"))
      .orderBy("l_returnflag")

  val percentilesSql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** §2.81 winsorization: clamp each group's tail values to its own
    * p05/p95 — the data-driven generalization of the reference's
    * static-range clamp (de_spotify_silver.sql LEAST(GREATEST(...))).
    * Two passes: one percentile agg (tiny result, broadcast back),
    * one clamp+agg scan. Threshold comparisons use the unrounded
    * interpolated percentile — safe across engines because the
    * interpolated value falls strictly between two data points. */
  def winsorize(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_returnflag", "l_extendedprice")
    // grid-bounded histogram percentiles (see centPercentiles) — the
    // value-buffering `percentile` aggregate OOMs at lineitem scale
    val bounds = centPercentiles(li, "l_returnflag", "l_extendedprice",
      Seq(("lo", 1, 20), ("hi", 19, 20)))
    li.join(broadcast(bounds), "l_returnflag")
      .withColumn("w", least(greatest(col("l_extendedprice"), col("lo")), col("hi")))
      .groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(when(col("l_extendedprice") < col("lo"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("l_extendedprice") > col("hi"), 1L).otherwise(0L)).as("n_high"),
        round(avg("l_extendedprice"), 4).as("mean_raw"),
        round(avg("w"), 4).as("mean_winsorized"),
        round(min("lo"), 4).as("p05"),
        round(max("hi"), 4).as("p95"))
      .orderBy("l_returnflag")
  }

  val winsorizeSql: String =
    """WITH b AS (SELECT l_returnflag,
      |    quantile_cont(l_extendedprice, 0.05) AS lo,
      |    quantile_cont(l_extendedprice, 0.95) AS hi
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT li.l_returnflag, count(*) AS n,
      |  CAST(sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
      |  CAST(sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
      |  round(avg(l_extendedprice), 4) AS mean_raw,
      |  round(avg(least(greatest(l_extendedprice, lo), hi)), 4) AS mean_winsorized,
      |  round(min(lo), 4) AS p05, round(max(hi), 4) AS p95
      |FROM lineitem li JOIN b ON li.l_returnflag = b.l_returnflag
      |GROUP BY li.l_returnflag ORDER BY li.l_returnflag""".stripMargin

  /** §2.16 correlation / covariance / stddev statistics per group. */
  def corrStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_linestatus")
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("covar_qty_price"),
        round(stddev_samp(col("l_discount")), 6).as("stddev_disc"))
      .orderBy("l_linestatus")

  val corrStatsSql: String =
    """SELECT l_linestatus,
      |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
      |  round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
      |  round(stddev_samp(l_discount), 6) AS stddev_disc
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** §2.17 numeric histogram via fixed-width bucketing. */
  def histogram(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(floor(col("o_totalprice") / 50000.0).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"), round(avg("o_totalprice"), 4).as("avg_price"))
      .orderBy("bucket")

  val histogramSql: String =
    """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
      |  count(*) AS n, round(avg(o_totalprice), 4) AS avg_price
      |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin

  /** §2.18 left-semi + left-anti joins, tagged and unioned. */
  def semiAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val bigOrders = Tables.orders(spark, dir).filter(col("o_totalprice") > 400000.0)
    val semi = cust.join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(lit("has_big_order").as("tag"), col("c_custkey"), col("c_name"))
    val anti = cust.join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(lit("no_big_order").as("tag"), col("c_custkey"), col("c_name"))
    semi.unionByName(anti).orderBy("tag", "c_custkey")
  }

  val semiAntiJoinSql: String =
    """WITH big AS (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)
      |SELECT 'has_big_order' AS tag, c_custkey, c_name FROM customer
      |  WHERE EXISTS (SELECT 1 FROM big WHERE o_custkey = c_custkey)
      |UNION ALL
      |SELECT 'no_big_order' AS tag, c_custkey, c_name FROM customer
      |  WHERE NOT EXISTS (SELECT 1 FROM big WHERE o_custkey = c_custkey)
      |ORDER BY tag, c_custkey""".stripMargin

  /** §2.19 set operations: union / intersect / except over key sets. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    val f = ord.filter(col("o_orderstatus") === "F").select(col("o_custkey")).distinct()
    val o = ord.filter(col("o_orderstatus") === "O").select(col("o_custkey")).distinct()
    val both = f.intersect(o).select(lit("both").as("tag"), col("o_custkey"))
    val fOnly = f.except(o).select(lit("f_only").as("tag"), col("o_custkey"))
    val either = f.union(o).distinct().select(lit("either").as("tag"), col("o_custkey"))
    both.unionByName(fOnly).unionByName(either).orderBy("tag", "o_custkey")
  }

  val setOpsSql: String =
    """WITH f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
      |o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
      |SELECT 'both' AS tag, o_custkey FROM (SELECT o_custkey FROM f INTERSECT SELECT o_custkey FROM o)
      |UNION ALL
      |SELECT 'f_only' AS tag, o_custkey FROM (SELECT o_custkey FROM f EXCEPT SELECT o_custkey FROM o)
      |UNION ALL
      |SELECT 'either' AS tag, o_custkey FROM (SELECT o_custkey FROM f UNION SELECT o_custkey FROM o)
      |ORDER BY tag, o_custkey""".stripMargin

  /** §2.62 equi-depth binning via ntile per group. */
  def ntileBins(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("tile", ntile(4).over(w))
      .groupBy("o_orderpriority", "tile")
      .agg(count(lit(1)).as("n"), round(min("o_totalprice"), 4).as("lo"),
        round(max("o_totalprice"), 4).as("hi"))
      .orderBy("o_orderpriority", "tile")
  }

  val ntileBinsSql: String =
    """SELECT o_orderpriority, tile, count(*) AS n,
      |  round(min(o_totalprice), 4) AS lo, round(max(o_totalprice), 4) AS hi
      |FROM (SELECT o_orderpriority, o_totalprice,
      |        ntile(4) OVER (PARTITION BY o_orderpriority
      |          ORDER BY o_totalprice, o_orderkey) AS tile
      |      FROM orders) t
      |GROUP BY o_orderpriority, tile ORDER BY o_orderpriority, tile""".stripMargin

  /** §2.63 time-series deltas: per-user lag differences, rolled up. */
  def tsDelta(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("delta", col("value") - lag(col("value"), 1).over(w))
      .filter(col("delta").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(avg("delta"), 6).as("avg_delta"),
        round(max(abs(col("delta"))), 6).as("max_abs_delta"))
      .orderBy("event_type")
  }

  val tsDeltaSql: String =
    """SELECT event_type, count(*) AS n, round(avg(delta), 6) AS avg_delta,
      |  round(max(abs(delta)), 6) AS max_abs_delta
      |FROM (SELECT event_type,
      |        value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
      |      FROM events) t
      |WHERE delta IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** §2.64 ordered list aggregation: top-3 order keys per priority as a
    * sorted array (collect_list is unordered in Spark — sort_array
    * makes it deterministic, matching DuckDB's list_sort). */
  def collectSorted(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .groupBy("o_orderpriority")
      // serialized to a string: the driver's pandas checker cannot
      // hash/sort raw array columns (unhashable ndarray)
      .agg(concat_ws(",", sort_array(collect_list(col("o_orderkey")))).as("top_orders"))
      .orderBy("o_orderpriority")
  }

  val collectSortedSql: String =
    """SELECT o_orderpriority, array_to_string(list_sort(list(o_orderkey)), ',') AS top_orders
      |FROM (SELECT o_orderpriority, o_orderkey,
      |        row_number() OVER (PARTITION BY o_orderpriority
      |          ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |      FROM orders) t
      |WHERE rk <= 3 GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** §2.65 linear-regression aggregates per group. */
  def regression(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_linestatus")
      .agg(
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("intercept"),
        round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"),
        regr_count(col("l_extendedprice"), col("l_quantity")).as("n"))
      .orderBy("l_linestatus")

  val regressionSql: String =
    """SELECT l_linestatus,
      |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
      |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
      |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
      |  regr_count(l_extendedprice, l_quantity) AS n
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** §2.49 JSON column extraction: schema-on-read over the events
    * `props` payload (from_json with an explicit schema — codegen'd,
    * unlike repeated get_json_object calls which re-parse per field). */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n_k"), sum("k").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("event_type")

  val jsonExtractSql: String =
    """SELECT event_type, count(k) AS n_k, CAST(sum(k) AS BIGINT) AS sum_k,
      |  min(k) AS min_k, max(k) AS max_k
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS INT) AS k
      |      FROM events) t
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** §2.50 word count via explode (lateral view): the canonical
    * map-side-heavy aggregation; top-20 with deterministic tie-break. */
  def wordCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(graft.text.TextFunctions.tokens(lower(col("text")))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("word"))
      .limit(20)

  val wordCountSql: String =
    """SELECT word, count(*) AS n
      |FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
      |      FROM documents) t
      |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin

  /** §2.51 full outer join with null sides: customer subset vs
    * per-customer order rollup. */
  def outerJoinNulls(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_custkey") <= 700)
      .select(col("c_custkey"), col("c_name"))
    val ords = Tables.orders(spark, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      .filter(col("o_custkey") > 300)
    cust.join(ords, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        coalesce(col("c_name"), lit("<no-customer>")).as("name"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .orderBy("custkey")
  }

  val outerJoinNullsSql: String =
    """SELECT coalesce(c_custkey, o_custkey) AS custkey,
      |  coalesce(c_name, '<no-customer>') AS name,
      |  coalesce(n_orders, 0) AS n_orders
      |FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 700) c
      |FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_orders FROM orders
      |                 GROUP BY o_custkey HAVING o_custkey > 300) o
      |  ON c_custkey = o_custkey
      |ORDER BY custkey""".stripMargin

  /** §2.52 GROUPING SETS through the engine's SQL front-end (temp view
    * + spark.sql — same Catalyst plan as the DataFrame API). */
  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_gs")
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty, count(*) AS n,
        |  grouping(l_returnflag) AS g_rf, grouping(l_linestatus) AS g_ls
        |FROM lineitem_gs
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin)
  }

  val groupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 4) AS sum_qty, count(*) AS n,
      |  CAST(grouping(l_returnflag) AS INT) AS g_rf,
      |  CAST(grouping(l_linestatus) AS INT) AS g_ls
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
      |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** §2.53 sliding-window aggregation: 2 h windows every 1 h (each
    * event lands in two windows — Spark's window() expands in place;
    * the oracle unions the two shifted hour buckets). */
  def slidingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))
      .orderBy("win_start", "event_type")

  val slidingWindowSql: String =
    """SELECT win_start, event_type, count(*) AS n
      |FROM (
      |  SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS win_start,
      |         event_type FROM events
      |  UNION ALL
      |  SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR,
      |         event_type FROM events) t
      |GROUP BY win_start, event_type ORDER BY win_start, event_type""".stripMargin

  /** §2.46 KMV distinct sketch (custom TypedImperativeAggregate):
    * k smallest distinct hashes per group → mergeable distinct-count
    * estimate; oracle replays the sketch with DuckDB's min(x, k). */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.KMinValues.kmin_values
    import graft.text.TextFunctions.hash64
    val k = 64
    val norm = 1152921504606846976.0 // 2^60: hash64 values are 60-bit
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        kmin_values(hash64(col("user_id").cast("string")), k).as("kmv"),
        countDistinct(col("user_id")).as("n_users_exact"))
      .select(
        col("event_type"),
        size(col("kmv")).as("n_sketch"),
        expr(s"try_element_at(kmv, $k)").as("kth"), // null when sketch < k
        when(size(col("kmv")) < k, size(col("kmv")).cast("double"))
          .otherwise(round(lit(k - 1) / (expr(s"try_element_at(kmv, $k)") / norm), 4))
          .as("est_distinct"),
        col("n_users_exact"))
      .orderBy("event_type")
  }

  /** §2.160 HLL distinct sketch ([[graft.functions.HllSketch]]): the
    * constant-state (4 KB) register estimator beside §2.46's KMV —
    * per event_type the HLL estimate against the exact count. The
    * oracle rebuilds the 4096 registers in DuckDB from the same
    * 60-bit hashes with pure integer ops (bucket = low-12 bits,
    * rho via length(bin(w))) and applies the identical estimate
    * expression — see HllSketch's scaladoc for why the harmonic sum
    * is an exact integer and row order cannot move the result. */
  def hllDistinct(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HllSketch.hll_sketch
    import graft.text.TextFunctions.hash64
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        hll_sketch(hash64(col("user_id").cast("string"))).as("est"),
        countDistinct(col("user_id")).as("n_users_exact"))
      .select(col("event_type"),
        round(col("est"), 4).as("hll_est"),
        col("n_users_exact"))
      .orderBy("event_type")
  }

  val hllDistinctSql: String = {
    import graft.text.TextFunctions.hash64Sql
    val m = graft.functions.HllSketch.M
    val wb = graft.functions.HllSketch.WindowBits
    val sp = graft.functions.HllSketch.ScalePow
    s"""WITH hv AS (SELECT event_type,
       |    ${hash64Sql("CAST(user_id AS VARCHAR)")} AS h FROM events),
       |r AS (SELECT event_type, h & ${m - 1} AS bucket,
       |    CASE WHEN (h >> ${graft.functions.HllSketch.P}) = 0 THEN ${wb + 1}
       |         ELSE $wb - length(bin((h >> ${graft.functions.HllSketch.P})::BIGINT)) + 1
       |    END AS rho
       |  FROM hv),
       |reg AS (SELECT event_type, bucket, max(rho) AS mr FROM r GROUP BY 1, 2),
       |agg AS (SELECT event_type,
       |    CAST(sum((1::BIGINT) << ($sp - mr)) AS BIGINT)
       |      + ($m - count(*)) * ((1::BIGINT) << $sp) AS ssum,
       |    $m - count(*) AS zeros
       |  FROM reg GROUP BY 1),
       |est AS (SELECT event_type,
       |    (0.7213 / (1.0 + 1.079 / $m)) * $m * $m * ((1::BIGINT) << $sp)
       |      / CAST(ssum AS DOUBLE) AS e_raw, zeros
       |  FROM agg),
       |x AS (SELECT e.event_type,
       |    CASE WHEN e.e_raw <= 2.5 * $m AND e.zeros > 0
       |         THEN $m * ln(CAST($m AS DOUBLE) / e.zeros)
       |         ELSE e.e_raw END AS hll_est
       |  FROM est e),
       |ex AS (SELECT event_type, count(DISTINCT user_id) AS n_users_exact
       |  FROM events GROUP BY 1)
       |SELECT x.event_type, round(x.hll_est, 4) AS hll_est, ex.n_users_exact
       |FROM x JOIN ex USING (event_type) ORDER BY x.event_type""".stripMargin
  }

  val kmvDistinctSql: String = {
    import graft.text.TextFunctions.hash64Sql
    val k = 64
    s"""WITH h AS (SELECT DISTINCT event_type,
       |    ${hash64Sql("CAST(user_id AS VARCHAR)")} AS hv FROM events),
       |s AS (SELECT event_type, list_slice(list_sort(list(hv)), 1, $k) AS kmv,
       |    count(*) AS n_distinct FROM h GROUP BY event_type),
       |e AS (SELECT event_type, count(DISTINCT user_id) AS n_users_exact
       |    FROM events GROUP BY event_type)
       |SELECT s.event_type, CAST(len(kmv) AS INT) AS n_sketch,
       |  kmv[$k] AS kth,
       |  CASE WHEN len(kmv) < $k THEN CAST(len(kmv) AS DOUBLE)
       |       ELSE round(${k - 1} / (kmv[$k] / 1152921504606846976.0), 4)
       |  END AS est_distinct,
       |  n_users_exact
       |FROM s JOIN e ON s.event_type = e.event_type
       |ORDER BY s.event_type""".stripMargin
  }

  /** §2.42 five-way star join (TPC-H Q5 shape): revenue per nation,
    * dims broadcast down the chain, fact filters pushed to the scan. */
  def q5Join(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01"))
    val cust = Tables.customer(spark, dir)
    val nat = Tables.nation(spark, dir)
    val reg = Tables.region(spark, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  val q5JoinSql: String =
    """SELECT r_name, n_name,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  /** §2.43 correlated-style scalar comparison: orders priced above
    * their customer's average (decorrelated to a join against a
    * pre-aggregated per-customer average — the plan Spark/Catalyst
    * produces for the correlated subquery form too). */
  def aboveCustomerAvg(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    // exact decimal sum then ONE double division: engine-order-proof
    // (plain avg() accumulates doubles in engine-dependent order, which
    // flips rows sitting exactly on the filter/rounding boundary)
    val avgs = ord.groupBy(col("o_custkey").as("ck"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("cust_avg"))
    ord.join(avgs, col("o_custkey") === col("ck"))
      .filter(col("o_totalprice") > col("cust_avg") * 1.5)
      // floor-of-cents instead of round(…, 4): the decimal-sum/count
      // average lands on exact half-way points, where Spark (HALF_UP on
      // the shortest decimal repr) and DuckDB (binary rounding) differ
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        floor(col("cust_avg") * 100).cast("long").as("cust_avg_c"))
      .orderBy("o_orderkey")
  }

  val aboveCustomerAvgSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice,
      |  CAST(floor(cust_avg * 100) AS BIGINT) AS cust_avg_c
      |FROM orders JOIN (SELECT o_custkey AS ck,
      |                    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |                      / count(*) AS cust_avg
      |                  FROM orders GROUP BY o_custkey) a ON o_custkey = ck
      |WHERE o_totalprice > cust_avg * 1.5
      |ORDER BY o_orderkey""".stripMargin

  /** §2.44 scalar-function batch: dates, strings, conditionals —
    * engine-parity over the everyday SQL surface. */
  def scalarFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderkey") <= 1000)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        upper(substring(col("o_orderpriority"), 1, 3)).as("pri3"),
        length(col("o_orderstatus")).as("st_len"),
        concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("tag"),
        when(col("o_totalprice") > 250000.0, "high")
          .when(col("o_totalprice") > 100000.0, "mid")
          .otherwise("low").as("price_band"),
        // floor, not round: totalprice/1000 lands on exact decimal
        // half-way points where Spark/DuckDB rounding modes diverge
        floor(col("o_totalprice") / 1000.0).cast("long").as("price_k"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")).as("status_or_open"))
      .orderBy("o_orderkey")

  val scalarFuncsSql: String =
    """SELECT o_orderkey,
      |  year(o_orderdate) AS yr, month(o_orderdate) AS mo,
      |  day(o_orderdate) AS dom,
      |  upper(substr(o_orderpriority, 1, 3)) AS pri3,
      |  length(o_orderstatus) AS st_len,
      |  concat_ws('-', o_orderstatus, o_orderpriority) AS tag,
      |  CASE WHEN o_totalprice > 250000.0 THEN 'high'
      |       WHEN o_totalprice > 100000.0 THEN 'mid' ELSE 'low' END AS price_band,
      |  CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS price_k,
      |  coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_or_open
      |FROM orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey""".stripMargin

  /** §2.40 as-of join, composed Spark-first (no custom physical
    * operator needed): tag both streams, one window per key carries the
    * latest click timestamp forward, purchases read it — a single sort
    * shuffle on user_id, vs the naive time-range self-join's O(n²)
    * candidate blowup. Oracle uses DuckDB's native ASOF JOIN, which
    * pins the exact semantics: latest click with click_ts <= event ts. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(0).as("kind"),
        col("event_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("kind"),
        col("event_id"), lit(null).cast("timestamp").as("click_ts"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("last_click_ts", last(col("click_ts"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("last_click_ts"),
        (col("ts").cast("long") - col("last_click_ts").cast("long")).as("gap_s"))
      .orderBy("event_id")
  }

  val asofJoinSql: String =
    """SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
      |  CAST(c.ts AS TIMESTAMP) AS last_click_ts,
      |  CASE WHEN c.ts IS NULL THEN NULL
      |       ELSE date_diff('second', CAST(c.ts AS TIMESTAMP), CAST(p.ts AS TIMESTAMP))
      |  END AS gap_s
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.event_id""".stripMargin

  /** §2.76 the same as-of join through the native whole-operator path
    * ([[graft.plans.AsofJoinExec]]): hash-clustered children, per-key
    * time order, one linear merge pass per partition — no tagged-union
    * interleave, no window. Output and oracle identical to
    * [[asofJoin]]. */
  def asofJoinNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("ts").as("click_ts"))
    graft.plans.AsofJoinOp.asofJoin(purchases, clicks,
        Seq("user_id"), Seq("c_user_id"), "ts", "click_ts")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("click_ts").as("last_click_ts"),
        (col("ts").cast("long") - col("click_ts").cast("long")).as("gap_s"))
      .orderBy("event_id")
  }

  /** §2.20 ROLLUP hierarchical aggregation. */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 4).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  val rollupAggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** §2.143 CUBE aggregation — all 2ⁿ grouping combinations in one
    * pass, completing the ROLLUP (§2.20) / GROUPING SETS (§2.52)
    * family; grouping() flags disambiguate "NULL because subtotal"
    * from data NULLs. Spark plans one Expand (4 replicas here) over a
    * single map-side-combined aggregation — one corpus scan, one
    * shuffle, no union of 4 separate groupBys. */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 4).as("sum_qty"), count(lit(1)).as("n"),
        grouping("l_returnflag").as("g_rf"),
        grouping("l_linestatus").as("g_ls"))
      .orderBy(col("g_rf"), col("g_ls"),
        asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  val cubeAggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 4) AS sum_qty, count(*) AS n,
      |  CAST(grouping(l_returnflag) AS INT) AS g_rf,
      |  CAST(grouping(l_linestatus) AS INT) AS g_ls
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** §2.103 TPC-H Q18 shape (large-volume customers): orders whose
    * lineitems exceed a quantity threshold — the HAVING-subquery /
    * IN-decorrelation pattern — joined back to customer, top-100 by
    * total price. Scale shape: the big-orders set is a partial-agg'd
    * groupBy that REDUCES lineitem to qualifying keys before any join
    * (semi-join reduction); customer is a broadcast dim; the final
    * top-100 is a TakeOrdered, not a global sort. */
  def q18BigOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(round(sum("l_quantity"), 4).as("total_qty"))
      .filter(col("total_qty") > 150.0)
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(100)
  }

  val q18BigOrdersSql: String =
    """SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
      |FROM orders
      |JOIN (SELECT l_orderkey, round(sum(l_quantity), 4) AS total_qty
      |      FROM lineitem GROUP BY l_orderkey
      |      HAVING round(sum(l_quantity), 4) > 150.0) big
      |  ON o_orderkey = l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  /** §2.98 funnel analysis: users progressing view → click → purchase
    * in strict temporal order. Single-shuffle shape: ONE hash exchange
    * on user_id feeds two stacked Window passes over the same sorted
    * partition (running first-view, then first-click-after-view) plus
    * the per-user aggregation — instead of the naive per-stage
    * join chain (3 shuffles). Ties broken by (ts, event_id) so the
    * running mins are a total order, deterministic on both engines. */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(asc("ts"), asc("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val staged = Tables.events(spark, dir)
      .withColumn("t1r", min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t2c",
        when(col("event_type") === "click" && col("ts") > col("t1r"), col("ts")))
      .withColumn("t2r", min(col("t2c")).over(w))
      .withColumn("t3c",
        when(col("event_type") === "purchase" && col("ts") > col("t2r"), col("ts")))
    staged.groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("ts"))).as("t1"),
        min(col("t2c")).as("t2"), min(col("t3c")).as("t3"))
      .agg(count(col("t1")).as("u1"), count(col("t2")).as("u2"),
        count(col("t3")).as("u3"))
      .select(expr(
        "stack(3, 1, 'view', u1, 2, 'click', u2, 3, 'purchase', u3) AS (stage, step, users)"))
      .orderBy("stage")
  }

  /** §2.105 skew-safe funnel twin: the window formulation above puts
    * EVERY event of a user through one sorted window partition — a
    * power-law hot user (30% of all events) makes that partition the
    * whole job, and AQE cannot split a Window's requirement. This
    * variant computes the same stages with aggregation only:
    *   t1 = min view ts per user            (partial-aggregable)
    *   t2 = min click ts > t1 per user      (join + partial agg)
    *   t3 = min purchase ts > t2 per user   (join + partial agg)
    * Map-side partial aggregation collapses the hot user to ONE row
    * per input partition before any shuffle, and the two joins are
    * ordinary equi-joins AQE CAN skew-split. Identical semantics: a
    * click ordering before the first view has ts ≤ t1 by the (ts,
    * event_id) total order, so "ts > running-min-view" ≡ "ts > t1"
    * (same for purchases vs t2) — SkewSpec asserts equality on a
    * planted-hot-key table, and the oracle is the window SQL. */
  def eventsFunnelSkewSafe(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select("user_id", "ts", "event_type")
    val t1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val t2 = e.filter(col("event_type") === "click")
      .join(t1, "user_id").filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val t3 = e.filter(col("event_type") === "purchase")
      .join(t2, "user_id").filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    t1.agg(count(lit(1)).as("u1"))
      .crossJoin(t2.agg(count(lit(1)).as("u2")))
      .crossJoin(t3.agg(count(lit(1)).as("u3")))
      .select(expr(
        "stack(3, 1, 'view', u1, 2, 'click', u2, 3, 'purchase', u3) AS (stage, step, users)"))
      .orderBy("stage")
  }

  val eventsFunnelSql: String =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
      |  FROM events),
      |w1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS t1r
      |  FROM e),
      |c2 AS (SELECT *, CASE WHEN event_type = 'click' AND ts > t1r THEN ts END AS t2c FROM w1),
      |w2 AS (SELECT *, min(t2c)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS t2r
      |  FROM c2),
      |c3 AS (SELECT *, CASE WHEN event_type = 'purchase' AND ts > t2r THEN ts END AS t3c FROM w2),
      |u AS (SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN ts END) AS t1,
      |    min(t2c) AS t2, min(t3c) AS t3
      |  FROM c3 GROUP BY user_id),
      |s AS (SELECT count(t1) AS u1, count(t2) AS u2, count(t3) AS u3 FROM u)
      |SELECT 1 AS stage, 'view' AS step, u1 AS users FROM s
      |UNION ALL SELECT 2, 'click', u2 FROM s
      |UNION ALL SELECT 3, 'purchase', u3 FROM s
      |ORDER BY stage""".stripMargin

  /** §2.111 cohort retention: users grouped by first-activity day (the
    * cohort), retention(k) = distinct users active k days after their
    * own cohort day — the standard product-analytics retention matrix,
    * capped at a 7-day offset window here.
    *
    * Scale shape: cohort assignment is a partial-agg'd min per user
    * (map-side combine collapses each user's events before the
    * shuffle), the events⋈cohort join is an ordinary equi-join AQE can
    * skew-split (a hot user is ONE row on the cohort side), and the
    * final per-(cohort, offset) distinct-user count is Spark's
    * two-phase distinct aggregate — a single countDistinct plans no
    * Expand (the Expand pathology needs ≥2 distinct groups, see
    * dq_report). Everything linear; no windows. */
  def eventsRetention(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val cohort = e.groupBy("user_id").agg(min("day").as("cohort_day"))
    e.join(cohort, "user_id")
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")).cast("long"))
      .filter(col("day_offset").between(0, 7))
      // midnight timestamp, not DATE: the checker compares DateType as
      // opaque objects (same convention as time_series' date_trunc)
      .groupBy(col("cohort_day").cast("timestamp").as("cohort_day"), col("day_offset"))
      .agg(countDistinct("user_id").as("users"))
      .orderBy("cohort_day", "day_offset")
  }

  val eventsRetentionSql: String =
    """WITH e AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
      |f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
      |SELECT CAST(f.cohort_day AS TIMESTAMP) AS cohort_day,
      |  CAST(e.day - f.cohort_day AS BIGINT) AS day_offset,
      |  count(DISTINCT e.user_id) AS users
      |FROM e JOIN f ON e.user_id = f.user_id
      |WHERE e.day - f.cohort_day BETWEEN 0 AND 7
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** §2.124 grid-binned interval-overlap join. Per supplier, count
    * pairs of shipments whose transit windows [shipdate, shipdate +
    * quantity days] overlap — the interval/range join Spark has no
    * native operator for (a naive theta-join plans BroadcastNestedLoop
    * or a full cartesian per key).
    *
    * Grid technique: transit spans are bounded (≤ 50 days), so each
    * interval lands in at most 2 cells of a 64-day grid. Exploding
    * intervals to their cells turns the range predicate into an
    * EQUI-join on (suppkey, cell) — hash-partitioned, AQE-splittable,
    * ≤ 2× input replication — with the exact overlap test as a
    * post-filter. Each qualifying pair is counted exactly ONCE: only
    * in the cell containing the later of the two interval starts (a
    * cell both intervals provably span). This is the standard
    * spatial-join binning argument — cell size ≥ max span bounds
    * replication, per-cell populations stay data-proportional, and
    * the plan survives any scale-up that keeps span bounded. */
  def intervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    // Sweep-line counting, NOT pair enumeration (round-9 rework): the
    // output is per-supplier overlap COUNTS, and counts never need the
    // pair set materialized. For closed intervals sorted per supplier
    // by (start, id), every overlapping pair is counted exactly once
    // at its later-ordered member b as "a before b whose end reaches
    // b's start": t1_a ≥ t0_b (given t0_a ≤ t0_b the other overlap
    // inequality holds automatically). Summing over b:
    //   Σ_b #{before b} − #{a : t1_a < t0_b}  =  n(n−1)/2 − Σ_b ends_before(b)
    // and ends_before is one running sum over the starts∪ends event
    // stream (ends sort AFTER starts at equal value, so an end exactly
    // at a start does not count — the boundary stays inclusive).
    //
    // Scale shape: ONE hash exchange on l_suppkey + one per-supplier
    // window over 2n events. The previous grid-cell self-join was
    // already equi-join + bounded replication, but it materialized the
    // answer's WORTH of pairs (186 M rows at sf5, 37 M at sf1 — probe-
    // measured) just to count them; its join stage degraded ~36%/row
    // as the working set outgrew cache (the round-8 "7.6×" — candidate
    // volume itself was exactly linear, 5.01× on the 5× step). The
    // sweep carries no pair intermediate at ANY scale, so the dense-
    // calendar blow-up class is gone by construction.
    val li = Tables.lineitem(spark, dir)
      // NULL-bound intervals fell out of the pair join via NULL
      // comparisons; the sweep must drop them explicitly or their
      // events would miscount neighbors. The sweep additionally
      // REQUIRES t1 >= t0 (a negative-span "interval" breaks the
      // start-before-end event ordering) and non-null id components —
      // enforced here AND in the oracle's iv CTE so both engines
      // evaluate the identical precondition instead of assuming it
      // (ADVICE r9; real lineitem data always satisfies it).
      .filter(col("l_shipdate").isNotNull && col("l_quantity").isNotNull
        && col("l_quantity") >= 0
        && col("l_orderkey").isNotNull && col("l_linenumber").isNotNull)
      .select(
        col("l_suppkey"),
        // (orderkey, linenumber) packed into one long (linenumber < 8 so
        // *8 preserves lexicographic order). The pair contract excludes
        // same-id pairs (strict id <) and the dirty corpus DUPLICATES
        // ids, so intra-id overlaps are swept separately and subtracted.
        (col("l_orderkey") * 8 + col("l_linenumber")).as("id"),
        // NTZ → LTZ is identity under the session's UTC timezone
        col("l_shipdate").cast("timestamp").cast("long").as("t0"),
        (col("l_shipdate").cast("timestamp").cast("long")
          + col("l_quantity").cast("long") * 86400L).as("t1"))
    // ONE lineitem scan emits both sweep events per interval via a
    // 2-element inline explode (r14, guide §2.3/§6): the previous
    // self-union scanned the corpus twice — at 100 TB that is a whole
    // duplicate columnar scan for rows the generator can produce in
    // place. Same (suppkey, id, val, is_end) rows, same downstream.
    val events = li.select(col("l_suppkey"), col("id"),
        explode(array(
          struct(col("t0").as("val"), lit(0L).as("is_end")),
          struct(col("t1").as("val"), lit(1L).as("is_end")))).as("ev"))
      .select(col("l_suppkey"), col("id"),
        col("ev.val").as("val"), col("ev.is_end").as("is_end"))
    val wAll = Window.partitionBy("l_suppkey").orderBy("val", "is_end")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wId = Window.partitionBy("l_suppkey", "id").orderBy("val", "is_end")
      .rowsBetween(Window.unboundedPreceding, -1)
    // per START row b: (preceding starts) − (preceding ends) counts b's
    // live ordered-before partners; the same two running sums at
    // (suppkey, id) grain count b's SAME-ID partners (excluded by the
    // pair contract's strict id<). Both "n(n−1)/2" terms become
    // row-level preceding-starts sums, so the whole query is windows +
    // ONE groupBy(suppkey) — no intermediate aggregate at the 30 M-
    // distinct id grain (probe-measured 10× of the runtime at sf5).
    // ONE window function per spec, by algebra: live partners before b
    // = preceding starts − preceding ends = Σ_preceding (1 − 2·is_end).
    // Both windows share the one suppkey exchange (the id sort is a
    // within-partition re-sort). Measured at sf5 (stage CPU metrics):
    // window-stage CPU is linear per row modulo cache tier — 34.3 s at
    // 12 M events vs 230 s at 60 M (6.7× on 5×, the excess being
    // per-task sort working sets growing 375 k → 1.6 M rows as the
    // partition floor stops binding); wall adds 38-task/32-thread wave
    // quantization. No pair intermediate exists at any scale.
    val sweep = lit(1L) - lit(2L) * col("is_end")
    events
      .withColumn("live_all", coalesce(sum(sweep).over(wAll), lit(0L)))
      .withColumn("live_id", coalesce(sum(sweep).over(wId), lit(0L)))
      .filter(col("is_end") === 0L)
      .groupBy("l_suppkey")
      .agg(sum(col("live_all") - col("live_id")).as("n_overlaps"))
      // inner-join parity with the oracle's pair formulation: a
      // supplier with zero overlapping pairs emits no row
      .filter(col("n_overlaps") > 0L)
      .select(col("l_suppkey").as("suppkey"), col("n_overlaps"))
      .orderBy("suppkey")
  }

  val intervalOverlapSql: String =
    """WITH iv AS (SELECT l_suppkey, l_orderkey, l_linenumber,
      |    CAST(epoch(l_shipdate) AS BIGINT) AS t0,
      |    CAST(epoch(l_shipdate) AS BIGINT)
      |      + CAST(l_quantity AS BIGINT) * 86400 AS t1
      |  FROM lineitem
      |  WHERE l_shipdate IS NOT NULL AND l_quantity >= 0
      |    AND l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL)
      |SELECT a.l_suppkey AS suppkey, count(*) AS n_overlaps
      |FROM iv a JOIN iv b
      |  ON a.l_suppkey = b.l_suppkey
      | AND (a.l_orderkey, a.l_linenumber) < (b.l_orderkey, b.l_linenumber)
      | AND a.t0 <= b.t1 AND b.t0 <= a.t1
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** §2.125 two-stage distributed skyline (Pareto frontier): orders
    * not dominated in (earlier o_orderdate, higher o_totalprice) by
    * any other order. The multi-objective "best tradeoffs" operator —
    * and the textbook case for local-then-global pruning.
    *
    * Stage 1 collapses the corpus to one max-price row group per
    * DISTINCT DATE (map-side-combined groupBy — the only corpus-sized
    * shuffle). Stage 2 runs the running-max scan over that date-sized
    * frame (thousands of rows at any corpus size, so the single-
    * partition window is a non-issue — the classic local-skyline/
    * global-merge decomposition). A date is on the frontier iff its
    * max price strictly exceeds every earlier date's max; the final
    * semi-join back to orders recovers ALL orders at a surviving
    * (date, max-price) point — incomparable ties are each
    * non-dominated. The oracle deliberately uses the independent
    * NOT-EXISTS dominance formulation, so the decomposition itself is
    * what gets verified. */
  def skyline(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val byDate = o.groupBy("o_orderdate").agg(max("o_totalprice").as("dmax"))
    val w = Window.orderBy("o_orderdate")
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = byDate
      .withColumn("prevmax", max(col("dmax")).over(w))
      .filter(col("prevmax").isNull || col("dmax") > col("prevmax"))
      // fresh names: frontier derives from o, so reusing o's attribute
      // names in the join condition would be a self-join ambiguity
      .select(col("o_orderdate").as("f_date"), col("dmax").as("f_price"))
    o.join(broadcast(frontier), o("o_orderdate") === col("f_date")
        && o("o_totalprice") === col("f_price"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Window-form skyline oracle (round 13): the r4 NOT EXISTS
    * anti-join replays dominance in O(n²) and blew the 60 s sf1 guard.
    * 2-D dominance needs only per-date maxima and two cumulative
    * maxima — a point survives iff it strictly beats every strictly-
    * earlier date's best (m1) and ties its ≤-date best (m2); same
    * tie semantics as the anti-join (equal (date, price) points
    * never dominate each other), verified equal at sf0.01/0.1 and
    * now oracle-feasible at sf1 (0.2 s). */
  val skylineSql: String =
    """WITH dmax AS (SELECT o_orderdate AS d, max(o_totalprice) AS mp
      |  FROM orders GROUP BY 1),
      |cum AS (SELECT d, mp,
      |    max(mp) OVER (ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1,
      |    max(mp) OVER (ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m2
      |  FROM dmax)
      |SELECT o_orderkey, o_orderdate, o_totalprice
      |FROM orders a JOIN cum ON a.o_orderdate = cum.d
      |WHERE (cum.m1 IS NULL OR a.o_totalprice > cum.m1)
      |  AND a.o_totalprice >= cum.m2
      |ORDER BY o_orderkey""".stripMargin

  /** §2.126 MAD anomaly detection: per event type, the robust
    * median/MAD outlier rule (|x − median| > 3·1.4826·MAD — the
    * consistency-scaled MAD z-score that, unlike mean/stddev, is not
    * itself dragged by the outliers it hunts).
    *
    * Exact medians WITHOUT per-group sorts: `value` is a round2 grid,
    * so the per-type value HISTOGRAM (map-side-combined groupBy, ≤
    * ~10⁵ bins/type regardless of corpus size) carries the full
    * distribution; the k-th order statistic falls out of a cumulative
    * window over bins, and the deviation histogram REBINS the value
    * histogram (bin-level abs/sum — never touches rows again). Three
    * linear scans total of which two are histogram-sized; the
    * weighted-median machinery is the same play as etl/Silver's
    * 3-scan selection, specialized to gridded values. Interpolation
    * is lo + (hi−lo)·0.5, bit-matching DuckDB's quantile_cont. */
  def anomalyMad(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(col("event_type"), col("value"))

    // weighted median of a (g, v, n) histogram via cumulative counts:
    // k1 = ⌊(N+1)/2⌋, k2 = ⌊(N+2)/2⌋; median = lo + (hi − lo)/2 where
    // lo/hi are the k1-th/k2-th order statistics (min v with cum ≥ k)
    def wmedian(hist: DataFrame, v: String, out: String): DataFrame = {
      val wc = Window.partitionBy("event_type").orderBy(v)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum("n").over(wc))
      val tot = hist.groupBy("event_type").agg(sum("n").as("ntot"))
      cum.join(tot, "event_type")
        .groupBy("event_type")
        .agg(
          min(when(col("cum") >= floor((col("ntot") + 1) / 2), col(v))).as("lo"),
          min(when(col("cum") >= floor((col("ntot") + 2) / 2), col(v))).as("hi"))
        .select(col("event_type"),
          (col("lo") + (col("hi") - col("lo")) * 0.5).as(out))
    }

    // hist feeds the median, the deviation rebin, AND the outlier count
    // — one materialization (lazy barrier) instead of three derivations
    val hist = graft.Barrier("anomaly_mad.hist",
      e.groupBy("event_type", "value").agg(count(lit(1)).as("n")))
    val med = wmedian(hist, "value", "med")
    val devHist = hist.join(broadcast(med), "event_type")
      .groupBy(col("event_type"), abs(col("value") - col("med")).as("dev"))
      .agg(sum("n").as("n"))
    val mad = wmedian(devHist, "dev", "mad")
    // outlier counting rebins the HISTOGRAM (r13): the histogram carries
    // the full distribution, so Σ n over bins with |value − med| > τ is
    // exactly the former per-row count — the identical IEEE comparison
    // runs once per distinct (type, value) instead of once per row,
    // deleting the third corpus scan + corpus-sized join from the plan
    hist.join(broadcast(med), "event_type").join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(
        round(first("med"), 4).as("med_value"),
        round(first("mad"), 4).as("mad_value"),
        sum(when(abs(col("value") - col("med"))
          > lit(3.0) * lit(1.4826) * col("mad"), col("n")).otherwise(0L)).as("n_outliers"),
        sum("n").as("n_rows"))
      .orderBy("event_type")
  }

  /** §2.156 `quantile_sketch`: per-group price quantiles through the
    * mergeable KLL aggregate ([[graft.functions.KllQuantile]]) — the
    * sketch-family completion (KMV distincts, SpaceSaving heavy
    * hitters, Bloom membership now have their quantile sibling).
    *
    * Exact-at-sketch-cost oracle (the heavy_hitters pattern):
    * k=2^22 exceeds every ORACLE-SF return-flag group (sf0.01 ~20 k,
    * sf0.1 ~200 k, sf1 ~2.0 M rows — 262144 left the exact regime
    * once the sf1 gate became standing, exactly as 32768 had left it
    * at sf0.1 in round 10), so the sketch never compacts, answers are
    * exact order statistics under ANY partitioning/merge order, and
    * DuckDB's quantile_disc replays them (verified equivalent to the
    * pinned min-v-with-cume_dist≥q convention). Memory stays bounded
    * by partition size in the exact regime (each partial holds only
    * its partition's values) and by ~2k doubles once compaction
    * starts at bench SFs. At 100 TB the same plan runs with k controlling a
    * ±n/k rank error and O(k·log(n/k)) state per group — no sort, no
    * GK buffer churn, and day-partitioned sketches merge
    * associatively for incremental rollups (KllQuantileSpec pins the
    * merge laws and the compacted-regime error bound). Selection only
    * — the output VALUES are existing column doubles, so no float
    * arithmetic can diverge between engines. */
  def quantileSketch(spark: SparkSession, dir: String): DataFrame = {
    val qcol = graft.functions.KllQuantile.kll_quantile(
      col("l_extendedprice"), 4194304, Seq(0.25, 0.5, 0.75, 0.95))
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(qcol.as("qs"))
      .select(col("l_returnflag"),
        element_at(col("qs"), 1).as("q25"),
        element_at(col("qs"), 2).as("q50"),
        element_at(col("qs"), 3).as("q75"),
        element_at(col("qs"), 4).as("q95"))
      .orderBy("l_returnflag")
  }

  val quantileSketchSql: String =
    """SELECT l_returnflag,
      |  quantile_disc(l_extendedprice, 0.25) AS q25,
      |  quantile_disc(l_extendedprice, 0.50) AS q50,
      |  quantile_disc(l_extendedprice, 0.75) AS q75,
      |  quantile_disc(l_extendedprice, 0.95) AS q95
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  val anomalyMadSql: String =
    """WITH med AS (SELECT event_type, median(value) AS med
      |  FROM events GROUP BY 1),
      |mad AS (SELECT e.event_type, median(abs(e.value - m.med)) AS mad
      |  FROM events e JOIN med m USING (event_type) GROUP BY 1)
      |SELECT e.event_type,
      |  round(any_value(m.med), 4) AS med_value,
      |  round(any_value(d.mad), 4) AS mad_value,
      |  CAST(sum(CASE WHEN abs(e.value - m.med) > 3.0 * 1.4826 * d.mad
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  count(*) AS n_rows
      |FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type)
      |GROUP BY 1 ORDER BY 1""".stripMargin
}
