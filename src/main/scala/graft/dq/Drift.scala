package graft.dq

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Distribution-drift monitoring — SURVEY.md §2 item 80.
  *
  * Population Stability Index between two batch populations over
  * fixed-width histogram bins: psi = Σ (p_a − p_b)·ln(p_a / p_b).
  * The production shape of "does today's load look like yesterday's"
  * — the natural next step after the reference's static expectations
  * (range/type checks catch corruption; drift catches the upstream
  * behavior changes that pass every static check). PSI < 0.1 is the
  * conventional "stable" band.
  *
  * Here the two populations are the even/odd-orderkey halves of
  * lineitem (deterministic stand-ins for batch N−1 vs batch N).
  * Scale: one groupBy over the fact table (partial-agg'd), then
  * 10-row arithmetic against broadcast totals. Empty bins are floored
  * at 1e-6 before the log, per standard PSI practice. */
object Drift {

  val BinWidth = 5.0
  val Eps = 1e-6

  def dqDrift(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"))
      .withColumn("is_a", col("l_orderkey") % 2 === 0)
      .withColumn("bin", floor((col("l_quantity") - 1) / BinWidth).cast("long"))
    val agg = li.groupBy("bin").agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"))
    val tot = agg.agg(sum("n_a").as("ta"), sum("n_b").as("tb"))
    val pa = try_divide(col("n_a"), col("ta"))
    val pb = try_divide(col("n_b"), col("tb"))
    val paE = greatest(pa, lit(Eps))
    val pbE = greatest(pb, lit(Eps))
    agg.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_a"), col("n_b"),
        round(pa, 6).as("p_a"),
        round(pb, 6).as("p_b"),
        round((paE - pbE) * log(paE / pbE), 6).as("psi_term"))
      .orderBy("bin")
  }

  /** §2.157 two-sample Kolmogorov–Smirnov drift: D = max |F_a − F_b|
    * between the empirical CDFs of the even/odd-event_id halves of each
    * event_type's value distribution (the same deterministic batch
    * stand-ins as [[dqDrift]]). KS complements PSI: PSI needs binned
    * densities and a floor for empty bins; KS reads the CDF gap
    * directly and is parameter-free, the standard pairing in drift
    * monitors.
    *
    * Scale shape: values quantize to a fixed 0.5-wide grid FIRST, so
    * the cumulative window runs at (event_type × grid)-grain — a few
    * hundred rows per type after one map-side-combined groupBy,
    * whatever the corpus size (the unquantized alternative would
    * window over corpus-grain: a per-type single-partition sort, the
    * classic KS scale trap). Quantization is part of the statistic's
    * definition, applied identically on both engines, so the compare
    * is exact. The D maximum is over per-bin doubles computed from
    * integer counts by one division each — no accumulation order
    * dependence anywhere. */
  val KsBinWidth = 0.5

  def ksDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("is_a", col("event_id") % 2 === 0)
      .withColumn("bin", floor(col("value") / KsBinWidth).cast("long"))
    val agg = e.groupBy("event_type", "bin").agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"))
    val w = Window.partitionBy("event_type").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = agg
      .withColumn("ca", sum("n_a").over(w))
      .withColumn("cb", sum("n_b").over(w))
    // totals are event_type-grain (bounded by type cardinality, not
    // data) — broadcast back onto the bin-grain frame
    val tot = agg.groupBy("event_type")
      .agg(sum("n_a").as("ta"), sum("n_b").as("tb"))
    cum.join(broadcast(tot), "event_type")
      .withColumn("gap",
        abs(try_divide(col("ca"), col("ta")) - try_divide(col("cb"), col("tb"))))
      .groupBy("event_type")
      .agg(max("ta").cast("long").as("n_a"),
        max("tb").cast("long").as("n_b"),
        round(max("gap"), 6).as("ks_d"))
      .orderBy("event_type")
  }

  val ksDriftSql: String =
    s"""WITH e AS (SELECT event_type, event_id % 2 = 0 AS is_a,
       |    CAST(floor(value / $KsBinWidth) AS BIGINT) AS bin FROM events),
       |agg AS (SELECT event_type, bin,
       |    CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b
       |  FROM e GROUP BY 1, 2),
       |cum AS (SELECT event_type, bin, n_a, n_b,
       |    sum(n_a) OVER (PARTITION BY event_type ORDER BY bin) AS ca,
       |    sum(n_b) OVER (PARTITION BY event_type ORDER BY bin) AS cb
       |  FROM agg),
       |tot AS (SELECT event_type, CAST(sum(n_a) AS BIGINT) AS ta,
       |    CAST(sum(n_b) AS BIGINT) AS tb FROM agg GROUP BY 1)
       |SELECT c.event_type, max(t.ta) AS n_a, max(t.tb) AS n_b,
       |  round(max(abs(c.ca / CAST(t.ta AS DOUBLE)
       |    - c.cb / CAST(t.tb AS DOUBLE))), 6) AS ks_d
       |FROM cum c JOIN tot t USING (event_type)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val dqDriftSql: String =
    s"""WITH b AS (SELECT CAST(floor((l_quantity - 1) / $BinWidth) AS BIGINT) AS bin,
       |    l_orderkey % 2 = 0 AS is_a FROM lineitem),
       |agg AS (SELECT bin,
       |    CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b
       |  FROM b GROUP BY bin),
       |tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
       |    CAST(sum(n_b) AS BIGINT) AS tb FROM agg)
       |SELECT bin, n_a, n_b,
       |  round(n_a / CAST(ta AS DOUBLE), 6) AS p_a,
       |  round(n_b / CAST(tb AS DOUBLE), 6) AS p_b,
       |  round((greatest(n_a / CAST(ta AS DOUBLE), $Eps)
       |       - greatest(n_b / CAST(tb AS DOUBLE), $Eps))
       |    * ln(greatest(n_a / CAST(ta AS DOUBLE), $Eps)
       |       / greatest(n_b / CAST(tb AS DOUBLE), $Eps)), 6) AS psi_term
       |FROM agg CROSS JOIN tot ORDER BY bin""".stripMargin

  /** §2.324 `js_drift`: Jensen–Shannon divergence between each
    * source's document-length distribution and the corpus — the
    * symmetric, bounded [0,1]-bit drift score next to §2.80's PSI
    * (which explodes on empty bins) and §2.157's KS (max-gap only,
    * insensitive to multi-modal shifts). The per-source "does this
    * feed still look like the corpus" number a 100 TB ingest
    * dashboard tracks per crawl.
    *
    * Scale shape: one map-side-combined groupBy to (source, bin)
    * cells (bins = n_chars div 100 — bounded by max doc length);
    * the |sources|×|bins| grid, the folds, and the report are all
    * bounded frames.
    *
    * Determinism: every log argument is an exact BIGINT product
    * (2aT, 2tA, aT+tA — the §2.95 integer-log-args convention, so
    * both engines evaluate ln on identical doubles); each bin term is
    * one fixed-sequence float; per-source terms are summed by an
    * ORDERED fold over bin (the §2.241 rule). a=0 bins contribute
    * only their q-term (the p·ln p → 0 limit), gated by an INTEGER
    * compare. */
  def jsDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), expr("n_chars div 100").as("bin"))
    val cells = docs.groupBy("source", "bin").agg(count(lit(1)).as("a"))
    val srcs = cells.groupBy("source").agg(sum("a").as("aa"))
    val bins = cells.groupBy("bin").agg(sum("a").as("t"))
    val tot = cells.agg(sum("a").as("tt"))
    val grid = srcs.crossJoin(broadcast(bins))
      .join(cells, Seq("source", "bin"), "left")
      .na.fill(0L, Seq("a"))
      .crossJoin(broadcast(tot))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val denomLn = log(d(col("a") * col("tt") + col("t") * col("aa")))
    val termP = when(col("a") > 0,
      (d(col("a")) / d(col("aa"))) *
        (log(d(lit(2L) * col("a") * col("tt"))) - denomLn)).otherwise(lit(0.0))
    val termQ = (d(col("t")) / d(col("tt"))) *
      (log(d(lit(2L) * col("t") * col("aa"))) - denomLn)
    grid
      .withColumn("term", termP + termQ)
      .groupBy("source", "aa")
      .agg(sort_array(collect_list(struct(col("bin"), col("term"))))
        .as("terms"))
      .select(col("source"), col("aa").as("n_docs"),
        round(expr(
          "aggregate(terms, CAST(0 AS DOUBLE), (acc, t) -> acc + t.term)")
          * 0.5 / log(lit(2.0)), 6).as("jsd_bits"))
      .orderBy("source")
  }

  val jsDriftSql: String =
    """WITH cells AS (SELECT source, n_chars // 100 AS bin, count(*) AS a
      |  FROM documents GROUP BY 1, 2),
      |s AS (SELECT source, CAST(sum(a) AS BIGINT) AS aa FROM cells GROUP BY 1),
      |b AS (SELECT bin, CAST(sum(a) AS BIGINT) AS t FROM cells GROUP BY 1),
      |tt AS (SELECT CAST(sum(a) AS BIGINT) AS tt FROM cells),
      |grid AS (SELECT s.source, s.aa, b.bin, b.t,
      |    CAST(coalesce(c.a, 0) AS BIGINT) AS a, tt.tt
      |  FROM s CROSS JOIN b
      |  LEFT JOIN cells c ON c.source = s.source AND c.bin = b.bin
      |  CROSS JOIN tt),
      |terms AS (SELECT source, aa, bin,
      |    (CASE WHEN a > 0 THEN (CAST(a AS DOUBLE) / aa) *
      |        (ln(CAST(2 * a * tt AS DOUBLE))
      |         - ln(CAST(a * tt + t * aa AS DOUBLE))) ELSE 0.0 END)
      |    + (CAST(t AS DOUBLE) / tt) *
      |        (ln(CAST(2 * t * aa AS DOUBLE))
      |         - ln(CAST(a * tt + t * aa AS DOUBLE))) AS term
      |  FROM grid)
      |SELECT source, aa AS n_docs,
      |  round(list_sum(list(term ORDER BY bin)) * 0.5 / ln(2.0), 6)
      |    AS jsd_bits
      |FROM terms GROUP BY source, aa ORDER BY source""".stripMargin
}
