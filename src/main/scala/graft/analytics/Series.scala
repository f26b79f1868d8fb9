package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Time-series diagnostics over the daily event-volume series —
  * SURVEY.md §2 items 220–221.
  */
object Series {

  /** Autocorrelation lags reported: 1..7 days (one week captures both
    * the day-over-day persistence and the weekly cycle peak). */
  val AcfMaxLag = 7

  /** §2.220 `acf_lags`: sample autocorrelation of each event type's
    * daily volume at lags 1..[[AcfMaxLag]] —
    * r_l = Σ(x_t−x̄)(x_{t+l}−x̄) / Σ(x_t−x̄)² on the zero-filled day
    * spine (gap days are real zeros of the volume series; skipping
    * them would splice non-adjacent days into "adjacent" pairs). The
    * seasonality detector that picks the period §2.151/§2.212 assume.
    *
    * Scale shape: ONE map-side-combined groupBy collapses the corpus
    * to the (type, day) grain; the spine, the lag windows (all l share
    * one per-type sort), and the moment sums live on that
    * calendar-bounded frame.
    *
    * Determinism: counts are integers, so Σx, Σx², Σx_t·x_{t+l} are
    * EXACT BIGINTs and the estimator expands to
    * (Σxy − x̄(Σx_a+Σx_b) + n_l·x̄²)/(Σx² − n·x̄²) — every float op a
    * fixed-sequence function of identical integers on both engines
    * (the §2.203 exact-moment trick); one 6 dp rounding at the end. */
  /** Zero-filled (event_type, day, n) daily-volume spine — the shared
    * front of both series diagnostics: one map-side-combined groupBy
    * to day grain, per-type calendar densification. */
  private def daySpine(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    daily.groupBy("event_type")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("event_type"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Shared per-(type, lag) frame with the UNROUNDED autocorrelation
    * `r` — acfLags rounds it for display, ljungBox squares it into
    * the portmanteau statistic. */
  private def acfFrame(spark: SparkSession, dir: String): DataFrame = {
    val spine = daySpine(spark, dir)
    val w = Window.partitionBy("event_type").orderBy("day")
    val lagged = spine.select(
      Seq(col("event_type"), col("n")) ++
        (1 to AcfMaxLag).map(l => lag("n", l).over(w).as(s"x$l")): _*)
    val stackExpr = (1 to AcfMaxLag)
      .map(l => s"$l, x$l").mkString(s"stack($AcfMaxLag, ", ", ", ") AS (lag, y)")
    val perLag = lagged
      .select(col("event_type"), col("n"), expr(stackExpr))
      .filter(col("y").isNotNull)
      .groupBy(col("event_type"), col("lag").cast("long").as("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum("y").as("sa"), sum("n").as("sb"),
        sum(col("n") * col("y")).as("sab"))
    val perType = spine.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum("n").as("s1"),
        sum(col("n") * col("n")).as("s2"))
    val mu = col("s1").cast("double") / col("n_days")
    perLag.join(broadcast(perType), Seq("event_type"))
      .withColumn("r",
        (col("sab").cast("double") - mu * (col("sa") + col("sb")).cast("double")
          + col("n_pairs").cast("double") * mu * mu) /
        (col("s2").cast("double") -
          col("n_days").cast("double") * mu * mu))
  }

  def acfLags(spark: SparkSession, dir: String): DataFrame =
    acfFrame(spark, dir)
      .select(col("event_type"), col("lag"), col("n_pairs"),
        col("n_days"), round(col("r"), 6).as("acf"))
      .orderBy("event_type", "lag")

  val acfLagsSql: String = {
    val lagCols = (1 to AcfMaxLag)
      .map(l => s"lag(n, $l) OVER (PARTITION BY event_type ORDER BY day) AS x$l")
      .mkString(", ")
    val caseY = (1 to AcfMaxLag)
      .map(l => s"WHEN $l THEN x$l").mkString("CASE l.lag ", " ", " END")
    val lagVals = (1 to AcfMaxLag).map(l => s"($l)").mkString(", ")
    s"""WITH daily AS (SELECT event_type,
       |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
       |  FROM events GROUP BY 1, 2),
       |spine AS (SELECT s.event_type, s.day,
       |    COALESCE(d.n, 0) AS n
       |  FROM (SELECT event_type,
       |      unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
       |    FROM (SELECT event_type, CAST(min(day) AS TIMESTAMP) AS d0,
       |        CAST(max(day) AS TIMESTAMP) AS d1 FROM daily GROUP BY 1) t) s
       |  LEFT JOIN daily d
       |    ON s.event_type = d.event_type AND CAST(s.day AS DATE) = d.day),
       |lagged AS (SELECT event_type, n, $lagCols FROM spine),
       |pairs AS (SELECT event_type, n, l.lag, $caseY AS y
       |  FROM lagged CROSS JOIN (VALUES $lagVals) l(lag)),
       |perlag AS (SELECT event_type, CAST(lag AS BIGINT) AS lag,
       |    count(*) AS n_pairs,
       |    CAST(sum(y) AS BIGINT) AS sa, CAST(sum(n) AS BIGINT) AS sb,
       |    CAST(sum(n * y) AS BIGINT) AS sab
       |  FROM pairs WHERE y IS NOT NULL GROUP BY 1, 2),
       |pertype AS (SELECT event_type, count(*) AS n_days,
       |    CAST(sum(n) AS BIGINT) AS s1, CAST(sum(n * n) AS BIGINT) AS s2
       |  FROM spine GROUP BY 1)
       |SELECT p.event_type, p.lag, p.n_pairs, t.n_days,
       |  round((CAST(sab AS DOUBLE)
       |      - (CAST(s1 AS DOUBLE) / t.n_days) * CAST(sa + sb AS DOUBLE)
       |      + CAST(n_pairs AS DOUBLE) * (CAST(s1 AS DOUBLE) / t.n_days)
       |        * (CAST(s1 AS DOUBLE) / t.n_days))
       |    / (CAST(s2 AS DOUBLE) - CAST(t.n_days AS DOUBLE)
       |      * (CAST(s1 AS DOUBLE) / t.n_days)
       |      * (CAST(s1 AS DOUBLE) / t.n_days)), 6) AS acf
       |FROM perlag p JOIN pertype t USING (event_type)
       |ORDER BY event_type, lag""".stripMargin
  }

  /** χ²(7) upper-5% critical value for the Ljung–Box test — a shared
    * literal on both engines (no live chi-square inverse). */
  val LjungBoxCrit = 14.0671

  /** §2.241 `ljung_box`: the Ljung–Box portmanteau whiteness test on
    * each event type's daily-volume series —
    * Q = n(n+2)·Σ_{l=1..7} r_l²/(n−l), rejecting "white noise" when
    * Q > χ²₀.₉₅(7) = [[LjungBoxCrit]]. The formal companion to
    * [[acfLags]]: the ACF says WHICH lags correlate, Q says whether
    * the series is autocorrelated AT ALL (the gate a forecasting
    * pipeline checks before fitting anything — §2.212's backtest is
    * pointless on white noise).
    *
    * Determinism: r_l is the shared [[acfFrame]] estimator — a
    * fixed-sequence float of exact integer moments — and the 7 lag
    * terms are PIVOTED to columns and added in fixed l=1..7
    * expression order on both engines (a groupBy float SUM over the
    * lag rows would be partition-order-dependent; 7 named addends
    * are not). Scale shape: everything after the one corpus groupBy
    * lives on the types×7 frame. */
  def ljungBox(spark: SparkSession, dir: String): DataFrame = {
    val piv = acfFrame(spark, dir).groupBy("event_type")
      .agg(max(col("n_days")).as("n_days"),
        (1 to AcfMaxLag).map(l =>
          max(when(col("lag") === l, col("r"))).as(s"r$l")): _*)
    val n = col("n_days").cast("double")
    val q = (1 to AcfMaxLag)
      .map(l => col(s"r$l") * col(s"r$l") / (n - l))
      .reduce(_ + _) * n * (n + lit(2.0))
    piv.select(col("event_type"), col("n_days"),
      lit(AcfMaxLag.toLong).as("df"),
      round(q, 4).as("q_stat"),
      (q > LjungBoxCrit).as("reject_white_noise"))
      .orderBy("event_type")
  }

  val ljungBoxSql: String = {
    val lagCols = (1 to AcfMaxLag)
      .map(l => s"lag(n, $l) OVER (PARTITION BY event_type ORDER BY day) AS x$l")
      .mkString(", ")
    val caseY = (1 to AcfMaxLag)
      .map(l => s"WHEN $l THEN x$l").mkString("CASE l.lag ", " ", " END")
    val lagVals = (1 to AcfMaxLag).map(l => s"($l)").mkString(", ")
    val rPiv = (1 to AcfMaxLag)
      .map(l => s"max(CASE WHEN lag = $l THEN r END) AS r$l")
      .mkString(",\n       |    ")
    val qTerms = (1 to AcfMaxLag)
      .map(l => s"r$l * r$l / (nd - $l)").mkString(" + ")
    s"""WITH daily AS (SELECT event_type,
       |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
       |  FROM events GROUP BY 1, 2),
       |spine AS (SELECT s.event_type, s.day,
       |    COALESCE(d.n, 0) AS n
       |  FROM (SELECT event_type,
       |      unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
       |    FROM (SELECT event_type, CAST(min(day) AS TIMESTAMP) AS d0,
       |        CAST(max(day) AS TIMESTAMP) AS d1 FROM daily GROUP BY 1) t) s
       |  LEFT JOIN daily d
       |    ON s.event_type = d.event_type AND CAST(s.day AS DATE) = d.day),
       |lagged AS (SELECT event_type, n, $lagCols FROM spine),
       |pairs AS (SELECT event_type, n, l.lag, $caseY AS y
       |  FROM lagged CROSS JOIN (VALUES $lagVals) l(lag)),
       |perlag AS (SELECT event_type, CAST(lag AS BIGINT) AS lag,
       |    count(*) AS n_pairs,
       |    CAST(sum(y) AS BIGINT) AS sa, CAST(sum(n) AS BIGINT) AS sb,
       |    CAST(sum(n * y) AS BIGINT) AS sab
       |  FROM pairs WHERE y IS NOT NULL GROUP BY 1, 2),
       |pertype AS (SELECT event_type, count(*) AS n_days,
       |    CAST(sum(n) AS BIGINT) AS s1, CAST(sum(n * n) AS BIGINT) AS s2
       |  FROM spine GROUP BY 1),
       |rlag AS (SELECT p.event_type, p.lag, t.n_days,
       |    (CAST(sab AS DOUBLE)
       |      - (CAST(s1 AS DOUBLE) / t.n_days) * CAST(sa + sb AS DOUBLE)
       |      + CAST(n_pairs AS DOUBLE) * (CAST(s1 AS DOUBLE) / t.n_days)
       |        * (CAST(s1 AS DOUBLE) / t.n_days))
       |    / (CAST(s2 AS DOUBLE) - CAST(t.n_days AS DOUBLE)
       |      * (CAST(s1 AS DOUBLE) / t.n_days)
       |      * (CAST(s1 AS DOUBLE) / t.n_days)) AS r
       |  FROM perlag p JOIN pertype t USING (event_type)),
       |piv AS (SELECT event_type, max(n_days) AS n_days,
       |    $rPiv
       |  FROM rlag GROUP BY 1),
       |qq AS (SELECT event_type, n_days,
       |    ($qTerms) * nd * (nd + 2.0) AS q
       |  FROM (SELECT *, CAST(n_days AS DOUBLE) AS nd FROM piv) x)
       |SELECT event_type, n_days, CAST($AcfMaxLag AS BIGINT) AS df,
       |  round(q, 4) AS q_stat,
       |  q > $LjungBoxCrit AS reject_white_noise
       |FROM qq ORDER BY event_type""".stripMargin
  }

  /** §2.222 `stl_decompose`: the classical additive decomposition x_t = trend + seasonal + resid
    * of each event type's daily volume — trend is the centered 7-day
    * moving average (full windows only), the weekly seasonal component
    * is the day-of-week mean of the detrended series, and the residual
    * is what anomaly detectors should be fed (raw volume alarms on
    * every weekend; the residual alarms on real deviations).
    *
    * Scale shape: identical to [[acfLags]] — corpus → day grain once,
    * everything after lives on the calendar-bounded spine; the
    * seasonal table is ≤ types×7 rows broadcast back.
    *
    * Determinism: counts are integers, so 7·trend = Σ₇x is an exact
    * BIGINT, the detrended value scales to the exact BIGINT
    * 7x − Σ₇x, and the seasonal mean is Σ(7x−Σ₇x)/(7·cnt) — every
    * reported float a fixed-sequence expression of identical BIGINTs;
    * there is NO cross-row float sum anywhere (the §2.203 discipline,
    * here taken to zero float aggregation at all). */
  def stlDecompose(spark: SparkSession, dir: String): DataFrame =
    stlFrame(spark, dir)
      .select(col("event_type"), col("day").cast("timestamp").as("day"),
        col("n"),
        round(col("trend"), 4).as("trend"),
        round(col("seasonal"), 4).as("seasonal"),
        round(col("resid"), 4).as("resid"))
      .orderBy("event_type", "day")

  val stlDecomposeSql: String =
    """WITH daily AS (SELECT event_type,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |spine AS (SELECT s.event_type, s.day, COALESCE(d.n, 0) AS n
      |  FROM (SELECT event_type,
      |      unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      |    FROM (SELECT event_type, CAST(min(day) AS TIMESTAMP) AS d0,
      |        CAST(max(day) AS TIMESTAMP) AS d1 FROM daily GROUP BY 1) t) s
      |  LEFT JOIN daily d
      |    ON s.event_type = d.event_type AND CAST(s.day AS DATE) = d.day),
      |t AS (SELECT event_type, day, n,
      |    CAST(sum(n) OVER w AS BIGINT) AS s7,
      |    count(*) OVER w AS c7,
      |    7 * n - CAST(sum(n) OVER w AS BIGINT) AS det7,
      |    dayofweek(CAST(day AS DATE)) + 1 AS dow
      |  FROM spine
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |tf AS (SELECT * FROM t WHERE c7 = 7),
      |seas AS (SELECT event_type, dow,
      |    CAST(sum(det7) AS BIGINT) AS ssum, count(*) AS cnt
      |  FROM tf GROUP BY 1, 2)
      |SELECT tf.event_type, tf.day, tf.n,
      |  round(CAST(s7 AS DOUBLE) / 7.0, 4) AS trend,
      |  round(CAST(ssum AS DOUBLE) / (7.0 * cnt), 4) AS seasonal,
      |  round(tf.n - CAST(s7 AS DOUBLE) / 7.0
      |    - CAST(ssum AS DOUBLE) / (7.0 * cnt), 4) AS resid
      |FROM tf JOIN seas USING (event_type, dow)
      |ORDER BY tf.event_type, tf.day""".stripMargin

  /** Shared STL frame with UNROUNDED components (each value a fixed-
    * sequence expression of exact integers — §2.222); stlDecompose
    * rounds for display, anomalyStl thresholds on the residual. */
  private def stlFrame(spark: SparkSession, dir: String): DataFrame = {
    val spine = daySpine(spark, dir)
    val w7 = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-3, 3)
    val t = spine
      .withColumn("s7", sum("n").over(w7))
      .withColumn("c7", count(lit(1)).over(w7))
      .filter(col("c7") === 7)
      .withColumn("det7", lit(7L) * col("n") - col("s7"))
      .withColumn("dow", dayofweek(col("day")))
    val seas = t.groupBy("event_type", "dow")
      .agg(sum("det7").as("ssum"), count(lit(1)).as("cnt"))
    t.join(broadcast(seas), Seq("event_type", "dow"))
      .withColumn("trend", col("s7").cast("double") / 7.0)
      .withColumn("seasonal",
        col("ssum").cast("double") / (lit(7.0) * col("cnt")))
      .withColumn("resid", col("n") - col("trend") - col("seasonal"))
  }

  /** §2.238 `anomaly_stl`: STL-residual anomaly days — the alarm
    * §2.222's scaladoc promises: flag days where the DESEASONALIZED,
    * DETRENDED volume deviates, |resid − med| > 2·1.4826·MAD(resid)
    * per event type (the §2.126 robust rule moved onto the residual —
    * threshold z>2 (~p<.05 two-sided) rather than 3 so the alarm has
    * non-trivial output at the sf0.01 gate; nearest non-flagged value
    * sits at z≈1.87, a safe cross-engine margin —
    * raw-volume alarms fire every weekend; residual alarms fire on
    * real breaks). Residuals are fixed-sequence floats of exact
    * integers (§2.222), so both engines threshold identical doubles;
    * median/MAD interpolate over the calendar-bounded residual frame
    * (the §2.141 percentile convention). Output = the flagged days
    * only (anomaly-sized, not calendar-sized). */
  def anomalyStl(spark: SparkSession, dir: String): DataFrame = {
    // the STL frame is calendar-bounded but its derivation scans the
    // corpus — one materialization (lazy barrier) for its two
    // consumers (median agg + deviation join), and again for dev
    // (MAD agg + final filter); was 32 parquet scans compiled
    val f = graft.Barrier("stl.frame", stlFrame(spark, dir))
    val med = f.groupBy("event_type")
      .agg(expr("percentile(resid, 0.5)").as("med"))
    val dev = graft.Barrier("stl.dev", f.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("resid") - col("med"))))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .filter(col("adev") > lit(2.0) * 1.4826 * col("mad"))
      .select(col("event_type"),
        col("day").cast("timestamp").as("day"), col("n"),
        round(col("resid"), 4).as("resid"),
        round(col("adev") / (lit(1.4826) * col("mad")), 4)
          .as("robust_z"))
      .orderBy("event_type", "day")
  }

  val anomalyStlSql: String =
    """WITH daily AS (SELECT event_type,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |spine AS (SELECT s.event_type, s.day, COALESCE(d.n, 0) AS n
      |  FROM (SELECT event_type,
      |      unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      |    FROM (SELECT event_type, CAST(min(day) AS TIMESTAMP) AS d0,
      |        CAST(max(day) AS TIMESTAMP) AS d1 FROM daily GROUP BY 1) t) s
      |  LEFT JOIN daily d
      |    ON s.event_type = d.event_type AND CAST(s.day AS DATE) = d.day),
      |t AS (SELECT event_type, day, n,
      |    CAST(sum(n) OVER w AS BIGINT) AS s7,
      |    count(*) OVER w AS c7,
      |    7 * n - CAST(sum(n) OVER w AS BIGINT) AS det7,
      |    dayofweek(CAST(day AS DATE)) + 1 AS dow
      |  FROM spine
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |tf AS (SELECT * FROM t WHERE c7 = 7),
      |seas AS (SELECT event_type, dow,
      |    CAST(sum(det7) AS BIGINT) AS ssum, count(*) AS cnt
      |  FROM tf GROUP BY 1, 2),
      |r AS (SELECT tf.event_type, tf.day, tf.n,
      |    tf.n - CAST(s7 AS DOUBLE) / 7.0
      |      - CAST(ssum AS DOUBLE) / (7.0 * cnt) AS resid
      |  FROM tf JOIN seas USING (event_type, dow)),
      |med AS (SELECT event_type, quantile_cont(resid, 0.5) AS med
      |  FROM r GROUP BY 1),
      |dev AS (SELECT r.event_type, r.day, r.n, r.resid,
      |    abs(r.resid - med.med) AS adev
      |  FROM r JOIN med USING (event_type)),
      |mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
      |  FROM dev GROUP BY 1)
      |SELECT dev.event_type, dev.day, dev.n,
      |  round(dev.resid, 4) AS resid,
      |  round(dev.adev / (1.4826 * mad.mad), 4) AS robust_z
      |FROM dev JOIN mad USING (event_type)
      |WHERE dev.adev > 2.0 * 1.4826 * mad.mad
      |ORDER BY dev.event_type, dev.day""".stripMargin

  /** §2.236 `dispersion_report`: burstiness diagnostics per event type
    * — Fano factor (variance/mean of daily volume; 1 = Poisson, ≫1 =
    * bursty), peak-to-mean ratio (the provisioning number), and
    * hour-of-day entropy/evenness (is load diurnal or flat?) — the
    * capacity-planning triple that decides partition sizing and
    * autoscale headroom before a 100 TB backfill.
    *
    * Scale shape: two map-side-combined groupBys (day grain on the
    * zero-filled spine; ≤24 hour cells per type); every statistic
    * derives from exact integer moments (Σx, Σx², max on the
    * calendar-bounded frame; Σc·ln c with integer log arguments on
    * the hour cells — §2.95/231 conventions), one fixed-sequence
    * float expression each, 6 dp. */
  def dispersionReport(spark: SparkSession, dir: String): DataFrame = {
    val spine = daySpine(spark, dir)
    val daily = spine.groupBy("event_type").agg(
      count(lit(1)).as("n_days"), sum("n").as("s1"),
      sum(col("n") * col("n")).as("s2"), max("n").as("mx"))
    val hours = Tables.events(spark, dir)
      .groupBy(col("event_type"), hour(col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
    val hstats = hours.groupBy("event_type").agg(
      sum("c").as("nh"),
      sum(col("c").cast("double") * log(col("c").cast("double"))).as("slc"),
      count(lit(1)).as("n_hours"))
    def d(c: String) = col(c).cast("double")
    val mean = d("s1") / col("n_days")
    val vars = try_divide(d("s2") - d("s1") * d("s1") / col("n_days"),
      col("n_days") - 1)
    val hEnt = log(d("nh")) - col("slc") / d("nh")
    daily.join(hstats, "event_type")
      .select(col("event_type"), col("n_days"),
        round(mean, 4).as("mean_daily"),
        round(vars / mean, 6).as("fano"),
        round(d("mx") / mean, 6).as("peak_to_mean"),
        col("n_hours"),
        round(hEnt, 6).as("hour_entropy"),
        round(hEnt / log(lit(24.0)), 6).as("hour_evenness"))
      .orderBy("event_type")
  }

  val dispersionReportSql: String =
    """WITH daily AS (SELECT event_type,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |spine AS (SELECT s.event_type, s.day, COALESCE(d.n, 0) AS n
      |  FROM (SELECT event_type,
      |      unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      |    FROM (SELECT event_type, CAST(min(day) AS TIMESTAMP) AS d0,
      |        CAST(max(day) AS TIMESTAMP) AS d1 FROM daily GROUP BY 1) t) s
      |  LEFT JOIN daily d
      |    ON s.event_type = d.event_type AND CAST(s.day AS DATE) = d.day),
      |dstats AS (SELECT event_type, count(*) AS n_days,
      |    CAST(sum(n) AS BIGINT) AS s1, CAST(sum(n * n) AS BIGINT) AS s2,
      |    CAST(max(n) AS BIGINT) AS mx
      |  FROM spine GROUP BY 1),
      |hcells AS (SELECT event_type,
      |    hour(CAST(ts AS TIMESTAMP)) AS h, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |hstats AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS nh,
      |    sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS slc,
      |    count(*) AS n_hours
      |  FROM hcells GROUP BY 1)
      |SELECT d.event_type, d.n_days,
      |  round(CAST(s1 AS DOUBLE) / d.n_days, 4) AS mean_daily,
      |  round(((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
      |        / d.n_days) / (d.n_days - 1))
      |    / (CAST(s1 AS DOUBLE) / d.n_days), 6) AS fano,
      |  round(CAST(mx AS DOUBLE) / (CAST(s1 AS DOUBLE) / d.n_days), 6)
      |    AS peak_to_mean,
      |  h.n_hours,
      |  round(ln(CAST(nh AS DOUBLE)) - slc / CAST(nh AS DOUBLE), 6)
      |    AS hour_entropy,
      |  round((ln(CAST(nh AS DOUBLE)) - slc / CAST(nh AS DOUBLE))
      |    / ln(24.0), 6) AS hour_evenness
      |FROM dstats d JOIN hstats h USING (event_type)
      |ORDER BY d.event_type""".stripMargin

  /** EWMA smoothing factor: s_t = α·x_t + (1−α)·s_{t−1}. */
  val EwmaAlpha = 0.3

  /** §2.244 `ewma_smooth`: exponentially-weighted moving average of
    * each event type's zero-filled daily volume — the one-number
    * "where is the series now" state a monitoring dashboard tracks
    * (and the flat h-step forecast of simple exponential smoothing,
    * Hyndman & Athanasopoulos ch. 8). Reports the final EWMA state,
    * the last observation, and their gap (today vs trend).
    *
    * Determinism: the recursion has no closed form that avoids
    * either pow() (libm-dependent) or a cross-row float sum
    * (order-dependent) — so BOTH engines evaluate the SAME
    * left-to-right fold over the day-ordered series (Spark
    * `aggregate` on the sorted collect_list, DuckDB `list_reduce`
    * on `list(... ORDER BY day)`), initialized at the first day's
    * count: identical operation sequence, identical doubles.
    *
    * Scale shape: the corpus collapses to the (type, day) grain
    * first; each per-type series is calendar-bounded (years, not
    * corpus-sized), so the collect_list is safe by construction —
    * the same argument as [[stlDecompose]]'s seasonal table. */
  def ewmaSmooth(spark: SparkSession, dir: String): DataFrame = {
    val a = EwmaAlpha
    daySpine(spark, dir)
      .groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("n"))))
        .as("series"))
      .select(col("event_type"),
        size(col("series")).as("n_days"),
        expr("element_at(series, -1).day").cast("timestamp")
          .as("last_day"),
        expr("element_at(series, -1).n").as("last_n"),
        expr(s"""aggregate(
          slice(series, 2, size(series) - 1),
          CAST(element_at(series, 1).n AS DOUBLE),
          (acc, e) -> acc * ${1 - a} + e.n * $a)""").as("ewma_raw"))
      // gap subtracts the UNROUNDED state on both engines — deriving
      // it from the rounded column would shift the 4 dp grid
      .select(col("event_type"), col("n_days"), col("last_day"),
        col("last_n"), round(col("ewma_raw"), 4).as("ewma"),
        round(col("last_n") - col("ewma_raw"), 4).as("gap"))
      .orderBy("event_type")
  }

  val ewmaSmoothSql: String = {
    val a = EwmaAlpha
    s"""WITH daily AS (SELECT event_type,
       |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
       |  FROM events GROUP BY 1, 2),
       |spine AS (SELECT s.event_type, s.day, COALESCE(d.n, 0) AS n
       |  FROM (SELECT event_type,
       |      unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
       |    FROM (SELECT event_type, CAST(min(day) AS TIMESTAMP) AS d0,
       |        CAST(max(day) AS TIMESTAMP) AS d1 FROM daily GROUP BY 1) t) s
       |  LEFT JOIN daily d
       |    ON s.event_type = d.event_type AND CAST(s.day AS DATE) = d.day),
       |ser AS (SELECT event_type,
       |    list(CAST(n AS DOUBLE) ORDER BY day) AS xs,
       |    count(*) AS n_days, max(day) AS last_day,
       |    CAST(arg_max(n, day) AS BIGINT) AS last_n
       |  FROM spine GROUP BY 1)
       |SELECT event_type, n_days, last_day, last_n,
       |  round(list_reduce(xs,
       |    (acc, x) -> acc * ${1 - a} + x * $a), 4) AS ewma,
       |  round(last_n - list_reduce(xs,
       |    (acc, x) -> acc * ${1 - a} + x * $a), 4) AS gap
       |FROM ser ORDER BY event_type""".stripMargin
  }

  /** Max |lag| for the cross-correlation sweep. */
  val XcorrMaxLag = 7

  /** Shared two-series frame: zero-filled daily click volume `x` and
    * purchase volume `y` on the global event calendar. */
  private def xyFrame(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    ev.agg(min("day").as("d0"), max("day").as("d1"))
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      .join(ev, Seq("day"), "left")
      .select(col("day"), coalesce(col("x"), lit(0L)).as("x"),
        coalesce(col("y"), lit(0L)).as("y"))
  }

  /** §2.246 `xcorr_lags`: lead/lag cross-correlation between the
    * daily click and purchase volume series — Pearson r of
    * (x_t, y_{t+l}) for l ∈ [−7, 7]. Positive-l peaks mean clicks
    * LEAD purchases by l days (the marketing-mix / conversion-delay
    * diagnostic; §2.220's ACF is this at x = y).
    *
    * Scale shape: corpus → day grain once; the 15 shifted copies are
    * window leads over the calendar-bounded frame sharing ONE sort.
    *
    * Determinism: per-lag Σx, Σy, Σxy, Σx², Σy² are exact BIGINTs
    * (integer daily counts), r is one fixed-sequence float per lag
    * row, rounded once at 6 dp. */
  def xcorrLags(spark: SparkSession, dir: String): DataFrame = {
    val L = XcorrMaxLag
    val w = Window.orderBy("day")
    val shifted = xyFrame(spark, dir).select(
      Seq(col("x")) ++
        (-L to L).map(l =>
          (if (l >= 0) lead("y", l) else lag("y", -l)).over(w)
            .as(s"y_${if (l < 0) "m" + (-l) else l.toString}")): _*)
    val stackExpr = (-L to L)
      .map(l => s"$l, y_${if (l < 0) "m" + (-l) else l.toString}")
      .mkString(s"stack(${2 * L + 1}, ", ", ", ") AS (lag, y)")
    val perLag = shifted.select(col("x"), expr(stackExpr))
      .filter(col("y").isNotNull)
      .groupBy(col("lag").cast("long").as("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    // numerator and both variance terms are exact BIGINTs; the only
    // float ops are one sqrt and one division per lag row, and
    // zero-variance degenerates are decided on INTEGER comparisons
    val num = col("n_pairs") * col("sxy") - col("sx") * col("sy")
    val dxx = col("n_pairs") * col("sxx") - col("sx") * col("sx")
    val dyy = col("n_pairs") * col("syy") - col("sy") * col("sy")
    perLag.select(col("lag"), col("n_pairs"),
      round(when(dxx > 0 && dyy > 0,
        num.cast("double") / sqrt(dxx.cast("double") * dyy.cast("double"))),
        6).as("xcorr"))
      .orderBy("lag")
  }

  val xcorrLagsSql: String = {
    val L = XcorrMaxLag
    val shiftCols = (-L to L).map { l =>
      val nm = s"y_${if (l < 0) "m" + (-l) else l.toString}"
      if (l >= 0) s"lead(y, $l) OVER (ORDER BY day) AS $nm"
      else s"lag(y, ${-l}) OVER (ORDER BY day) AS $nm"
    }.mkString(",\n       |    ")
    val caseY = (-L to L)
      .map(l => s"WHEN $l THEN y_${if (l < 0) "m" + (-l) else l.toString}")
      .mkString("CASE l.lag ", " ", " END")
    val lagVals = (-L to L).map(l => s"($l)").mkString(", ")
    s"""WITH daily AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
       |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS x,
       |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS y
       |  FROM events WHERE event_type IN ('click', 'purchase')
       |  GROUP BY 1),
       |spine AS (SELECT s.day, COALESCE(d.x, 0) AS x, COALESCE(d.y, 0) AS y
       |  FROM (SELECT unnest(generate_series(
       |      CAST(min(day) AS TIMESTAMP), CAST(max(day) AS TIMESTAMP),
       |      INTERVAL 1 DAY)) AS day FROM daily) s
       |  LEFT JOIN daily d ON CAST(s.day AS DATE) = d.day),
       |shifted AS (SELECT x,
       |    $shiftCols
       |  FROM spine),
       |pairs AS (SELECT x, l.lag, $caseY AS y
       |  FROM shifted CROSS JOIN (VALUES $lagVals) l(lag)),
       |perlag AS (SELECT CAST(lag AS BIGINT) AS lag, count(*) AS n_pairs,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy,
       |    CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(sum(y * y) AS BIGINT) AS syy
       |  FROM pairs WHERE y IS NOT NULL GROUP BY 1)
       |SELECT lag, n_pairs,
       |  round(CASE WHEN n_pairs * sxx - sx * sx > 0
       |      AND n_pairs * syy - sy * sy > 0
       |    THEN CAST(n_pairs * sxy - sx * sy AS DOUBLE)
       |      / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
       |        * CAST(n_pairs * syy - sy * sy AS DOUBLE))
       |    END, 6) AS xcorr
       |FROM perlag ORDER BY lag""".stripMargin
  }

  /** Trailing window width for [[rollingCorr]] (two full weeks). */
  val RollCorrDays = 14

  /** §2.247 `rolling_corr`: trailing 14-day Pearson correlation
    * between daily click and purchase volume, per day — the
    * relationship-drift monitor ([[xcorrLags]] gives the global
    * number; this shows it decaying after e.g. a tracking break).
    * Only full windows score.
    *
    * Determinism: the five windowed moments are BIGINT sums of
    * integers over ROWS frames (exact, order-free); each day's r is
    * one fixed-sequence float. Scale: one sort over the
    * calendar-bounded frame shared by all five window sums. */
  def rollingCorr(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("day").rowsBetween(-(RollCorrDays - 1), 0)
    val m = xyFrame(spark, dir).select(col("day"),
      count(lit(1)).over(w).as("n_w"),
      sum("x").over(w).as("sx"), sum("y").over(w).as("sy"),
      sum(col("x") * col("y")).over(w).as("sxy"),
      sum(col("x") * col("x")).over(w).as("sxx"),
      sum(col("y") * col("y")).over(w).as("syy"))
      .filter(col("n_w") === RollCorrDays)
    // exact-integer numerator/variances; zero-variance windows gate
    // on INTEGER comparisons and report NULL (the §2.246 discipline)
    val k = lit(RollCorrDays.toLong)
    val num = k * col("sxy") - col("sx") * col("sy")
    val dxx = k * col("sxx") - col("sx") * col("sx")
    val dyy = k * col("syy") - col("sy") * col("sy")
    m.select(col("day").cast("timestamp").as("day"),
      round(when(dxx > 0 && dyy > 0,
        num.cast("double") / sqrt(dxx.cast("double") * dyy.cast("double"))),
        6).as("corr14"))
      .orderBy("day")
  }

  val rollingCorrSql: String =
    s"""WITH daily AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
       |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS x,
       |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS y
       |  FROM events WHERE event_type IN ('click', 'purchase')
       |  GROUP BY 1),
       |spine AS (SELECT s.day, COALESCE(d.x, 0) AS x, COALESCE(d.y, 0) AS y
       |  FROM (SELECT unnest(generate_series(
       |      CAST(min(day) AS TIMESTAMP), CAST(max(day) AS TIMESTAMP),
       |      INTERVAL 1 DAY)) AS day FROM daily) s
       |  LEFT JOIN daily d ON CAST(s.day AS DATE) = d.day),
       |m AS (SELECT day, count(*) OVER w AS n_w,
       |    CAST(sum(x) OVER w AS BIGINT) AS sx,
       |    CAST(sum(y) OVER w AS BIGINT) AS sy,
       |    CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
       |    CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
       |    CAST(sum(y * y) OVER w AS BIGINT) AS syy
       |  FROM spine
       |  WINDOW w AS (ORDER BY day
       |    ROWS BETWEEN ${RollCorrDays - 1} PRECEDING AND CURRENT ROW))
       |SELECT day,
       |  round(CASE WHEN $RollCorrDays * sxx - sx * sx > 0
       |      AND $RollCorrDays * syy - sy * sy > 0
       |    THEN CAST($RollCorrDays * sxy - sx * sy AS DOUBLE)
       |      / sqrt(CAST($RollCorrDays * sxx - sx * sx AS DOUBLE)
       |        * CAST($RollCorrDays * syy - sy * sy AS DOUBLE))
       |    END, 6) AS corr14
       |FROM m WHERE n_w = $RollCorrDays
       |ORDER BY day""".stripMargin

  /** §2.258 `page_hinkley`: the Page–Hinkley mean-shift detector on
    * each event type's zero-filled daily volume — the classic
    * sequential change-detection statistic (Page 1954; the streaming
    * sibling of §2.213's retrospective CUSUM):
    * m_t = Σ(x_i − x̄), PH = max_t (m_t − min_{i≤t} m_i), alarming
    * when PH exceeds 3·s·√n (random-walk scaling of the daily
    * stddev). PH localizes a sustained upward shift that §2.238's
    * per-day alarms and §2.213's single argmax can miss.
    *
    * Determinism: x̄ and s come from exact integer moments; the PH
    * fold is the §2.244 ordered-fold contract with a TRIPLE
    * accumulator [cum, mincum, ph], elements lifted so a zero state
    * precedes the series on both engines, and the updated cum
    * inlined IDENTICALLY in min and ph. */
  def pageHinkley(spark: SparkSession, dir: String): DataFrame = {
    val upd = "(acc.c + e.x - mu)"
    val stats = daySpine(spark, dir)
      .groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("n"))))
        .as("series"),
        count(lit(1)).as("n_days"), sum("n").as("s1"),
        sum(col("n") * col("n")).as("s2"))
      .withColumn("mu", col("s1").cast("double") / col("n_days"))
      .withColumn("sd", sqrt(try_divide(
        col("s2").cast("double") - col("n_days").cast("double") *
          col("mu") * col("mu"), col("n_days").cast("double") - 1.0)))
    stats
      .withColumn("st", expr(s"""aggregate(
        transform(series, p -> named_struct('x', CAST(p.n AS DOUBLE))),
        named_struct('c', CAST(0.0 AS DOUBLE), 'mn', CAST(0.0 AS DOUBLE),
                     'ph', CAST(0.0 AS DOUBLE)),
        (acc, e) -> named_struct(
          'c', $upd,
          'mn', least(acc.mn, $upd),
          'ph', greatest(acc.ph, $upd - least(acc.mn, $upd))))"""))
      .withColumn("threshold",
        lit(3.0) * col("sd") * sqrt(col("n_days").cast("double")))
      .select(col("event_type"), col("n_days"),
        round(col("mu"), 4).as("mean_daily"),
        round(col("st.ph"), 4).as("ph_stat"),
        round(col("threshold"), 4).as("threshold"),
        (col("st.ph") > col("threshold")).as("drift_flag"))
      .orderBy("event_type")
  }

  val pageHinkleySql: String = {
    val upd = "(acc[1] + x[1] - mu)"
    s"""WITH daily AS (SELECT event_type,
       |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
       |  FROM events GROUP BY 1, 2),
       |spine AS (SELECT s.event_type, s.day, COALESCE(d.n, 0) AS n
       |  FROM (SELECT event_type,
       |      unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
       |    FROM (SELECT event_type, CAST(min(day) AS TIMESTAMP) AS d0,
       |        CAST(max(day) AS TIMESTAMP) AS d1 FROM daily GROUP BY 1) t) s
       |  LEFT JOIN daily d
       |    ON s.event_type = d.event_type AND CAST(s.day AS DATE) = d.day),
       |ser AS (SELECT event_type,
       |    list(CAST(n AS DOUBLE) ORDER BY day) AS xs,
       |    count(*) AS n_days,
       |    CAST(sum(n) AS BIGINT) AS s1, CAST(sum(n * n) AS BIGINT) AS s2
       |  FROM spine GROUP BY 1),
       |st AS (SELECT event_type, n_days,
       |    CAST(s1 AS DOUBLE) / n_days AS mu,
       |    sqrt((CAST(s2 AS DOUBLE) - CAST(n_days AS DOUBLE)
       |      * (CAST(s1 AS DOUBLE) / n_days) * (CAST(s1 AS DOUBLE) / n_days))
       |      / (CAST(n_days AS DOUBLE) - 1.0)) AS sd,
       |    list_reduce(
       |      list_concat([[0.0, 0.0, 0.0]],
       |        list_transform(xs, v -> [v, 0.0, 0.0])),
       |      (acc, x) -> [$upd,
       |        least(acc[2], $upd),
       |        greatest(acc[3], $upd - least(acc[2], $upd))]) AS ph3
       |  FROM ser)
       |SELECT event_type, n_days, round(mu, 4) AS mean_daily,
       |  round(ph3[3], 4) AS ph_stat,
       |  round(3.0 * sd * sqrt(CAST(n_days AS DOUBLE)), 4) AS threshold,
       |  ph3[3] > 3.0 * sd * sqrt(CAST(n_days AS DOUBLE)) AS drift_flag
       |FROM st ORDER BY event_type""".stripMargin
  }

  /** Holt linear-trend smoothing parameters. */
  val HoltAlpha = 0.3
  val HoltBeta = 0.1

  /** Forecast horizon reported by [[holtLinear]]. */
  val HoltHorizon = 7

  /** §2.248 `holt_linear`: Holt's linear-trend (double exponential)
    * smoothing of each event type's daily volume — level and trend
    * state plus the h=7-day-ahead forecast l + 7b. Where [[ewmaSmooth]]
    * forecasts flat, this extrapolates the local slope (Hyndman &
    * Athanasopoulos ch. 8.2) — the pair is the classic
    * monitoring-dashboard ladder.
    *
    * Determinism: same ordered-fold contract as §2.244, with a PAIR
    * accumulator — Spark folds a named_struct(l, b), DuckDB a 2-list
    * (elements pre-lifted to [x, 0] so the init IS the first
    * element's state, matching Spark's init exactly); l′ is inlined
    * twice in the b′ expression IDENTICALLY on both engines (lambdas
    * can't bind locals — duplication is the price of the identical
    * op sequence). Scale: calendar-bounded fold after the one corpus
    * groupBy. */
  def holtLinear(spark: SparkSession, dir: String): DataFrame = {
    val (a, b, h) = (HoltAlpha, HoltBeta, HoltHorizon)
    val lNew = s"($a * e.n + ${1 - a} * (acc.l + acc.b))"
    daySpine(spark, dir)
      .groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("n"))))
        .as("series"))
      .select(col("event_type"),
        size(col("series")).cast("long").as("n_days"),
        expr(s"""aggregate(
          slice(series, 2, size(series) - 1),
          named_struct('l', CAST(element_at(series, 1).n AS DOUBLE),
                       'b', CAST(0.0 AS DOUBLE)),
          (acc, e) -> named_struct(
            'l', $lNew,
            'b', $b * ($lNew - acc.l) + ${1 - b} * acc.b))""").as("st"))
      .select(col("event_type"), col("n_days"),
        round(col("st.l"), 4).as("level"),
        round(col("st.b"), 4).as("trend"),
        round(col("st.l") + lit(h.toDouble) * col("st.b"), 4)
          .as(s"forecast_$h"))
      .orderBy("event_type")
  }

  val holtLinearSql: String = {
    val (a, b, h) = (HoltAlpha, HoltBeta, HoltHorizon)
    val lNew = s"($a * x[1] + ${1 - a} * (acc[1] + acc[2]))"
    s"""WITH daily AS (SELECT event_type,
       |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
       |  FROM events GROUP BY 1, 2),
       |spine AS (SELECT s.event_type, s.day, COALESCE(d.n, 0) AS n
       |  FROM (SELECT event_type,
       |      unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
       |    FROM (SELECT event_type, CAST(min(day) AS TIMESTAMP) AS d0,
       |        CAST(max(day) AS TIMESTAMP) AS d1 FROM daily GROUP BY 1) t) s
       |  LEFT JOIN daily d
       |    ON s.event_type = d.event_type AND CAST(s.day AS DATE) = d.day),
       |ser AS (SELECT event_type, count(*) AS n_days,
       |    list_reduce(
       |      list_transform(list(CAST(n AS DOUBLE) ORDER BY day),
       |        v -> [v, 0.0]),
       |      (acc, x) -> [$lNew,
       |        $b * ($lNew - acc[1]) + ${1 - b} * acc[2]]) AS st
       |  FROM spine GROUP BY 1)
       |SELECT event_type, n_days,
       |  round(st[1], 4) AS level, round(st[2], 4) AS trend,
       |  round(st[1] + $h.0 * st[2], 4) AS forecast_$h
       |FROM ser ORDER BY event_type""".stripMargin
  }

  val HwAlpha = 0.3
  val HwBeta = 0.1
  val HwGamma = 0.2

  /** Season length for [[holtWinters]] (weekly). */
  val HwSeason = 7

  /** §2.286 `holt_winters`: additive Holt–Winters triple exponential
    * smoothing of each event type's zero-filled daily volume — level
    * + trend + a [[HwSeason]]-slot seasonal state, the step past
    * §2.248's Holt that actually models the weekly cycle §2.151
    * detects. Reports the final state (level, trend, seasonal
    * amplitude) and the 1- and 7-day-ahead forecasts
    * ŷ_{t+k} = l + k·b + s_{(t+k−1) mod m}.
    *
    * Determinism — the LIST-STATE ordered fold, extending the §2.244
    * scalar and §2.248 pair accumulators: the recursion carries
    * (l, b, s₀..s₆) and BOTH engines evaluate the identical
    * left-to-right fold — Spark `aggregate` over the sorted series
    * with a struct{l, b, s array} accumulator, DuckDB `list_reduce`
    * over a 9-slot DOUBLE list with the init list prepended (lists
    * are homogeneous but not fixed-length, so the 9-slot init and
    * 2-slot [value, season-idx] elements coexist). Seasonal slots
    * init at 0 and the output is DEFINED as this truncated recursion
    * (the §2.234 convention) — parity never depends on convergence.
    * Update order is pinned: l′ then b′ then s′ᵢ, each a
    * fixed-sequence expression.
    *
    * Scale shape: identical to §2.248 — one (type, day) groupBy
    * collapses the corpus, the fold runs over |days|-bounded arrays
    * at |types| grain. */
  def holtWinters(spark: SparkSession, dir: String): DataFrame = {
    val (a, b, g, m) = (HwAlpha, HwBeta, HwGamma, HwSeason)
    val sI = "element_at(acc.s, e.i + 1)"
    val lNew = s"($a * (e.v - $sI) + ${1 - a} * (acc.l + acc.b))"
    val bNew = s"($b * ($lNew - acc.l) + ${1 - b} * acc.b)"
    daySpine(spark, dir)
      .groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("n"))))
        .as("series"))
      .select(col("event_type"),
        size(col("series")).cast("long").as("n_days"),
        expr("transform(series, x -> CAST(x.n AS DOUBLE))").as("vals"))
      .select(col("event_type"), col("n_days"),
        expr(s"""aggregate(
          slice(transform(vals, (v, j) ->
                  named_struct('v', v, 'i', CAST(j % $m AS INT))),
                2, size(vals) - 1),
          named_struct('l', element_at(vals, 1), 'b', CAST(0.0 AS DOUBLE),
                       's', array_repeat(CAST(0.0 AS DOUBLE), $m)),
          (acc, e) -> named_struct(
            'l', $lNew,
            'b', $bNew,
            's', transform(acc.s, (sv, j) -> IF(j = e.i,
                   $g * (e.v - $lNew) + ${1 - g} * sv, sv))))""").as("st"))
      .select(col("event_type"), col("n_days"),
        round(col("st.l"), 4).as("level"),
        round(col("st.b"), 4).as("trend"),
        round(expr(s"array_max(st.s) - array_min(st.s)"), 4)
          .as("season_amplitude"),
        round(col("st.l") + col("st.b") +
          expr(s"element_at(st.s, CAST(n_days % $m AS INT) + 1)"), 4)
          .as("forecast_1"),
        round(col("st.l") + lit(7.0) * col("st.b") +
          expr(s"element_at(st.s, CAST((n_days + 6) % $m AS INT) + 1)"), 4)
          .as("forecast_7"))
      .orderBy("event_type")
  }

  val holtWintersSql: String = {
    val (a, b, g, m) = (HwAlpha, HwBeta, HwGamma, HwSeason)
    val sI = "acc[3 + CAST(x[2] AS INT)]"
    val lNew = s"($a * (x[1] - $sI) + ${1 - a} * (acc[1] + acc[2]))"
    val bNew = s"($b * ($lNew - acc[1]) + ${1 - b} * acc[2])"
    s"""WITH daily AS (SELECT event_type,
       |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
       |  FROM events GROUP BY 1, 2),
       |spine AS (SELECT s.event_type, s.day, COALESCE(d.n, 0) AS n
       |  FROM (SELECT event_type,
       |      unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
       |    FROM (SELECT event_type, CAST(min(day) AS TIMESTAMP) AS d0,
       |        CAST(max(day) AS TIMESTAMP) AS d1 FROM daily GROUP BY 1) t) s
       |  LEFT JOIN daily d
       |    ON s.event_type = d.event_type AND CAST(s.day AS DATE) = d.day),
       |ser AS (SELECT event_type, count(*) AS n_days,
       |    list(CAST(n AS DOUBLE) ORDER BY day) AS vs
       |  FROM spine GROUP BY 1),
       |folded AS (SELECT event_type, n_days,
       |    list_reduce(
       |      list_prepend(
       |        [vs[1], 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
       |        list_transform(generate_series(2, CAST(n_days AS INT)),
       |          j -> [vs[j], CAST((j - 1) % $m AS DOUBLE)])),
       |      (acc, x) -> [$lNew, $bNew] ||
       |        list_transform(generate_series(1, $m),
       |          j -> CASE WHEN j - 1 = CAST(x[2] AS INT)
       |            THEN $g * (x[1] - $lNew) + ${1 - g} * acc[2 + j]
       |            ELSE acc[2 + j] END)) AS st
       |  FROM ser)
       |SELECT event_type, n_days,
       |  round(st[1], 4) AS level, round(st[2], 4) AS trend,
       |  round(list_max(st[3:9]) - list_min(st[3:9]), 4)
       |    AS season_amplitude,
       |  round(st[1] + st[2] + st[3 + CAST(n_days % $m AS INT)], 4)
       |    AS forecast_1,
       |  round(st[1] + 7.0 * st[2] + st[3 + CAST((n_days + 6) % $m AS INT)], 4)
       |    AS forecast_7
       |FROM folded ORDER BY event_type""".stripMargin
  }
}
