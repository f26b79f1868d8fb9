package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-12 robust/tail additions: trimmed mean, Tukey fences, Hill
  * tail index — SURVEY.md §2 items 354–356.
  *
  * All three ride the per-type value HISTOGRAM (`value` is a round2
  * grid, so groupBy(type, cents) carries the full distribution in
  * ≤10⁵ bins/type regardless of corpus size — the §2.126 anomaly_mad
  * play) or a bounded top-k window, never a per-row sort. Integer
  * cents end-to-end; the only divisions are final display casts of
  * exact integers, so both engines compute identical doubles. */
object Robust {

  private def cents: Column = expr("CAST(round(value * 100) AS BIGINT)")
  private val centsSql = "CAST(round(value * 100) AS BIGINT)"

  /** Trim fraction numerator: k = n·TrimPct/100 rows cut per side.
    * Must divide 100 so `k = n div (100/TrimPct)` is exact in both
    * engines' integer division. */
  val TrimPct = 10
  require(100 % TrimPct == 0, s"TrimPct=$TrimPct must divide 100")

  /** The integer divisor both engines trim with: k = n div TrimDiv. */
  private val TrimDiv = 100 / TrimPct

  /** §2.354 `trimmed_mean`: per event type, the α = 10% two-sided
    * trimmed mean next to the §2.348 Huber location — the simple
    * member of the robust-location family (throw the tails away
    * instead of down-weighting them).
    *
    * Exact WITHOUT a per-group sort: the cents histogram's cumulative
    * window gives each bin its rank interval [cum−c+1, cum]; the bin
    * contributes value·|overlap with the kept rank band [k+1, n−k]|.
    * k = n div 10 (n > 0 positive, so truncating and flooring
    * division agree); n − 2k ≥ 1 for every n ≥ 1, so the final
    * division cannot hit zero even on the degenerate corpus. */
  def trimmedMean(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.events(spark, dir)
      .groupBy(col("event_type"), cents.as("v"))
      .agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy("event_type").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy("event_type")
    val ranked = hist
      .withColumn("cum", sum("c").over(wc))
      .withColumn("n", sum("c").over(wall))
      .withColumn("k", expr(s"n div $TrimDiv"))
      .withColumn("lo", col("k") + 1)
      .withColumn("hi", col("n") - col("k"))
      .withColumn("ov",
        greatest(lit(0L),
          least(col("cum"), col("hi")) -
            greatest(col("cum") - col("c") + 1, col("lo")) + 1))
    ranked.groupBy("event_type")
      .agg(max("n").as("n_rows"), max("k").as("n_cut_each_side"),
        sum(col("ov") * col("v")).as("skept"),
        sum(col("c") * col("v")).as("sall"))
      .select(col("event_type"), col("n_rows"), col("n_cut_each_side"),
        round(col("skept").cast("double") /
          ((col("n_rows") - col("n_cut_each_side") * 2) * 100.0), 6)
          .as("trimmed_mean"),
        round(col("sall").cast("double") / (col("n_rows") * 100.0), 6)
          .as("raw_mean"))
      .orderBy("event_type")
  }

  val trimmedMeanSql: String =
    s"""WITH hist AS (SELECT event_type, $centsSql AS v, count(*) AS c
       |  FROM events GROUP BY 1, 2),
       |ranked AS (SELECT event_type, v, c,
       |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
       |  FROM hist),
       |ov AS (SELECT event_type, v, c, cum, n, n // $TrimDiv AS k,
       |    greatest(0, least(cum, n - n // $TrimDiv)
       |      - greatest(cum - c + 1, n // $TrimDiv + 1) + 1) AS ov
       |  FROM ranked)
       |SELECT event_type, CAST(max(n) AS BIGINT) AS n_rows,
       |  CAST(max(k) AS BIGINT) AS n_cut_each_side,
       |  round(CAST(sum(ov * v) AS DOUBLE)
       |    / ((max(n) - 2 * max(k)) * 100.0), 6) AS trimmed_mean,
       |  round(CAST(sum(c * v) AS DOUBLE) / (max(n) * 100.0), 6) AS raw_mean
       |FROM ov GROUP BY 1 ORDER BY 1""".stripMargin

  /** §2.355 `tukey_fences`: per event type, the boxplot outlier rule —
    * Q1/Q3 (quantile_disc convention: min value whose cumulative count
    * covers the quartile), IQR, fences at 1.5·IQR, and the outlier
    * census. The dq sibling of §2.126's MAD rule (fences are the rule
    * dashboards actually draw).
    *
    * Determinism: quartile selection is the INTEGER compare 4·cum ≥ n
    * (and ≥ 3n) — no division, no float rank; fences are compared in
    * HALF-cents (2·v vs 2·Q1 − 3·IQR) so 1.5× never leaves the
    * integers; only the display columns divide at the end. Integer
    * compares also sidestep the negative-dividend div/floor trap —
    * there is no division to disagree on. */
  def tukeyFences(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.events(spark, dir)
      .groupBy(col("event_type"), cents.as("v"))
      .agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy("event_type").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy("event_type")
    // No cache: the histogram is ≤10⁵ bins/type however big the corpus,
    // cheap to recompute for its two readers, and a cache here would
    // outlive the query (nothing downstream could unpersist it).
    val cumhist = hist
      .withColumn("cum", sum("c").over(wc))
      .withColumn("n", sum("c").over(wall))
    val qs = cumhist.groupBy("event_type")
      .agg(min(when(col("cum") * 4 >= col("n"), col("v"))).as("q1c"),
        min(when(col("cum") * 4 >= col("n") * 3, col("v"))).as("q3c"),
        max("n").as("n_rows"))
      .withColumn("iqrc", col("q3c") - col("q1c"))
      .withColumn("lo2", col("q1c") * 2 - col("iqrc") * 3)
      .withColumn("hi2", col("q3c") * 2 + col("iqrc") * 3)
    val out = cumhist.join(broadcast(qs.select("event_type", "lo2", "hi2")),
        "event_type")
      .groupBy("event_type")
      .agg(sum(when(col("v") * 2 < col("lo2") || col("v") * 2 > col("hi2"),
        col("c")).otherwise(0L)).as("n_outliers"))
    qs.join(out, "event_type")
      .select(col("event_type"), col("n_rows"),
        round(col("q1c") / 100.0, 6).as("q1"),
        round(col("q3c") / 100.0, 6).as("q3"),
        round(col("iqrc") / 100.0, 6).as("iqr"),
        round(col("lo2") / 200.0, 6).as("lo_fence"),
        round(col("hi2") / 200.0, 6).as("hi_fence"),
        col("n_outliers"))
      .orderBy("event_type")
  }

  val tukeyFencesSql: String =
    s"""WITH hist AS (SELECT event_type, $centsSql AS v, count(*) AS c
       |  FROM events GROUP BY 1, 2),
       |ch AS (SELECT event_type, v, c,
       |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
       |  FROM hist),
       |qs AS (SELECT event_type,
       |    min(CASE WHEN cum * 4 >= n THEN v END) AS q1c,
       |    min(CASE WHEN cum * 4 >= n * 3 THEN v END) AS q3c,
       |    max(n) AS n_rows
       |  FROM ch GROUP BY 1),
       |f AS (SELECT event_type, n_rows, q1c, q3c, q3c - q1c AS iqrc,
       |    2 * q1c - 3 * (q3c - q1c) AS lo2,
       |    2 * q3c + 3 * (q3c - q1c) AS hi2
       |  FROM qs),
       |o AS (SELECT ch.event_type,
       |    CAST(sum(CASE WHEN ch.v * 2 < f.lo2 OR ch.v * 2 > f.hi2
       |      THEN ch.c ELSE 0 END) AS BIGINT) AS n_outliers
       |  FROM ch JOIN f ON ch.event_type = f.event_type GROUP BY 1)
       |SELECT f.event_type, n_rows,
       |  round(q1c / 100.0, 6) AS q1, round(q3c / 100.0, 6) AS q3,
       |  round(iqrc / 100.0, 6) AS iqr,
       |  round(lo2 / 200.0, 6) AS lo_fence, round(hi2 / 200.0, 6) AS hi_fence,
       |  n_outliers
       |FROM f JOIN o ON f.event_type = o.event_type
       |ORDER BY f.event_type""".stripMargin

  /** Hill-estimator order count (top k tail points per type). */
  val HillK = 100

  /** §2.356 `hill_tail`: per event type, the Hill estimator of the
    * value distribution's tail index — the EVT companion to §2.317's
    * empirical VaR/CVaR (tail_risk REPORTS the tail; this says how
    * HEAVY it is, i.e. whether moments/CVaR even converge at scale):
    * H = (1/k)·Σᵢ ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the top-k order statistics,
    * alpha = 1/H.
    *
    * Scale shape: the only corpus-sized work is one per-type top-(k+1)
    * window (rank by cents desc, event_id — a total order); the Hill
    * sum runs over ≤k rows/type. Determinism: logs enter as the §2.350
    * nano-integer ln (round(1e9·ln x) — exact-integer sums, the Burst
    * precedent that both engines' libm agree on the 1e-9 grid for
    * these magnitudes); H and alpha are single divisions of identical
    * integers. Types with fewer than k+1 positive values drop out
    * (no tail to estimate); an all-equal top block gives H = 0 and an
    * integer-gated NULL alpha, not a divide-by-zero. */
  def hillTail(spark: SparkSession, dir: String, k: Int = HillK): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(desc("v"), asc("event_id"))
    val ranked = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), cents.as("v"))
      .filter(col("v") > 0)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k + 1)
    def li(name: String): Column =
      expr(s"CAST(round(1e9 * ln(CAST($name AS DOUBLE))) AS BIGINT)")
    val xk = ranked.filter(col("rk") === k + 1)
      .select(col("event_type"), li("v").as("lik"))
    ranked.filter(col("rk") <= k)
      .join(xk, "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("k_used"),
        sum(li("v") - col("lik")).as("snano"))
      .select(col("event_type"), col("k_used"),
        round(col("snano").cast("double") / (col("k_used") * 1.0e9), 6)
          .as("hill"),
        when(col("snano") > 0,
          round(col("k_used") * 1.0e9 / col("snano"), 6)).as("alpha"))
      .orderBy("event_type")
  }

  def hillTailSql(k: Int = HillK): String = {
    def li(e: String) = s"CAST(round(1e9 * ln(CAST($e AS DOUBLE))) AS BIGINT)"
    s"""WITH ranked AS (SELECT event_type, v,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY v DESC, event_id) AS rk
       |  FROM (SELECT event_type, event_id, $centsSql AS v FROM events) t
       |  WHERE v > 0),
       |xk AS (SELECT event_type, ${li("v")} AS lik FROM ranked
       |  WHERE rk = ${k + 1})
       |SELECT r.event_type, count(*) AS k_used,
       |  round(CAST(sum(${li("r.v")} - xk.lik) AS DOUBLE)
       |    / (count(*) * 1.0e9), 6) AS hill,
       |  CASE WHEN sum(${li("r.v")} - xk.lik) > 0
       |    THEN round(count(*) * 1.0e9
       |      / CAST(sum(${li("r.v")} - xk.lik) AS DOUBLE), 6) END AS alpha
       |FROM ranked r JOIN xk ON r.event_type = xk.event_type
       |WHERE r.rk <= $k
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }
}
