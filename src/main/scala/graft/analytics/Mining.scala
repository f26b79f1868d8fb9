package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Behavioral / association-mining analytics — SURVEY.md §2.136–138:
  * market-basket association rules, Markov event transitions, and
  * time-series gap filling. All exact, all oracle-replayable.
  */
object Mining {

  /** Minimum co-occurrence count for a pair to be reported (and the
    * a-priori item prune threshold — an item in fewer baskets than
    * this provably cannot be in a qualifying pair). */
  val MinPairCount = 2

  /** §2.136 market-basket association mining: part pairs co-purchased
    * within an order, with support and lift — the classic
    * recommendation primitive (A-Priori, Agrawal & Srikant VLDB'94)
    * over the lineitem basket stream.
    *
    * Scale shape: baskets are BOUNDED (an order has a handful of
    * lines), so the per-order pair fanout is a constant factor, not a
    * quadratic blowup — the self-join on okey is a hash-partitioned
    * equi-join whose output is Σ C(basket,2) ≈ linear in orders, and
    * AQE can split a hot basket key. Before pairing, the A-PRIORI
    * prune drops items in < MinPairCount baskets (they cannot reach
    * pair support by monotonicity) — on a long-tail catalog this
    * eliminates most of the item stream before the only expensive
    * join. Counts are exact integers; support/lift divide as doubles
    * identically in both engines, 6 dp display rounding. */
  def marketBasket(spark: SparkSession, dir: String): DataFrame = {
    // NOTE (r13 measured): the compiled plan shows the lineitem scan +
    // distinct 5x, but AQE's runtime ReuseExchange already dedups the
    // identical legs — localCheckpoint barriers here measured 1.16x
    // SLOWER (they serialize the pipeline), so the plan is left fused.
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("pkey"))
      .distinct()
    val freq = items.groupBy("pkey").agg(count(lit(1)).as("icnt"))
      .filter(col("icnt") >= MinPairCount)
    val pruned = items.join(freq, "pkey")
    val a = pruned.select(col("okey"), col("pkey").as("part_a"),
      col("icnt").as("cnt_a"))
    val b = pruned.select(col("okey"), col("pkey").as("part_b"),
      col("icnt").as("cnt_b"))
    val n = items.agg(count_distinct(col("okey")).as("n_orders"))
    a.join(b, Seq("okey"))
      .filter(col("part_a") < col("part_b"))
      .groupBy("part_a", "part_b", "cnt_a", "cnt_b")
      .agg(count(lit(1)).as("pair_count"))
      .filter(col("pair_count") >= MinPairCount)
      .crossJoin(broadcast(n))
      .withColumn("support", round(col("pair_count") / col("n_orders"), 6))
      .withColumn("lift", round(
        (col("pair_count") * col("n_orders")) /
          (col("cnt_a") * col("cnt_b")).cast("double"), 6))
      .select("part_a", "part_b", "pair_count", "support", "lift")
      .orderBy(desc("pair_count"), col("part_a"), col("part_b"))
  }

  val marketBasketSql: String =
    s"""WITH items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey
       |    FROM lineitem),
       |freq AS (SELECT pkey, count(*) AS icnt FROM items GROUP BY 1
       |    HAVING count(*) >= $MinPairCount),
       |pruned AS (SELECT i.okey, i.pkey, f.icnt
       |    FROM items i JOIN freq f USING (pkey)),
       |n AS (SELECT count(DISTINCT okey) AS n_orders FROM items),
       |pairs AS (SELECT a.pkey AS part_a, b.pkey AS part_b,
       |    a.icnt AS cnt_a, b.icnt AS cnt_b
       |  FROM pruned a JOIN pruned b ON a.okey = b.okey AND a.pkey < b.pkey)
       |SELECT part_a, part_b, count(*) AS pair_count,
       |  round(count(*) / n_orders, 6) AS support,
       |  round((count(*) * n_orders) / CAST(cnt_a * cnt_b AS DOUBLE), 6) AS lift
       |FROM pairs CROSS JOIN n
       |GROUP BY part_a, part_b, cnt_a, cnt_b, n_orders
       |HAVING count(*) >= $MinPairCount
       |ORDER BY pair_count DESC, part_a, part_b""".stripMargin

  /** §2.137 Markov event-transition matrix: for each ordered pair of
    * event types, how often does one directly follow the other within
    * a user's stream, and with what conditional probability — the
    * first-order behavioral model behind next-action prediction and
    * anomalous-flow detection (a transition whose observed p collapses
    * week-over-week is a funnel break).
    *
    * Scale shape: ONE hash exchange on user_id for the lag window
    * (same sort the §2.134 SCD2 build shares), then the (prev, next)
    * groupBy partial-aggregates map-side into a transition matrix
    * bounded by |event_type|² — the per-prev normalization window runs
    * over that matrix, not the corpus. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wp = Window.partitionBy("prev")
    Tables.events(spark, dir)
      .withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n") / sum("n").over(wp), 6))
      .orderBy("prev", "next")
  }

  val eventTransitionsSql: String =
    """WITH tr AS (SELECT * FROM (
      |    SELECT lag(event_type) OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id) AS prev,
      |      event_type AS next
      |    FROM events) t WHERE prev IS NOT NULL),
      |m AS (SELECT prev, next, count(*) AS n FROM tr GROUP BY 1, 2)
      |SELECT prev, next, n,
      |  round(n / sum(n) OVER (PARTITION BY prev), 6) AS p
      |FROM m ORDER BY prev, next""".stripMargin

  /** §2.138 time-series gap filling: the daily revenue series per
    * event type, with missing days materialized from a date spine and
    * forward-filled from the last observed day — the resample/ffill
    * step every downstream trend model needs (a absent day must read
    * as "carried value", not silently vanish from the series).
    *
    * The fill uses the portable grouping trick — grp = running count
    * of non-null observations, fill = max within (type, grp) — instead
    * of IGNORE NULLS last_value, so both engines execute the identical
    * formulation. Scale shape: the corpus collapses to a (type, day)
    * aggregate in one map-side-combined groupBy; the spine explode and
    * both windows run over day-granularity frames (bounded by calendar
    * span × |event_type| at ANY corpus size — a 100 TB decade is
    * ~3 650 rows per type). */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(round(sum("value"), 4).as("day_value"))
    val spine = daily.groupBy("event_type")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("event_type"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val wg = Window.partitionBy("event_type").orderBy("day")
    val wf = Window.partitionBy("event_type", "grp")
    spine.join(daily, Seq("event_type", "day"), "left")
      .withColumn("grp", count("day_value").over(wg))
      .withColumn("value_ffill", max("day_value").over(wf))
      .withColumn("is_gap", col("day_value").isNull)
      .select("event_type", "day", "value_ffill", "is_gap")
      .orderBy("event_type", "day")
  }

  /** §2.162 conversion lag: per item, the latency distribution from a
    * user's FIRST click on the item to their first purchase of it at
    * or after that click — n_conversions, median and p90 lag — the
    * funnel-latency metric (§2.98 counts conversions; this times
    * them). Quantiles via the §2.156 mergeable KLL aggregate
    * ([[graft.functions.KllQuantile]]) — per-item state O(k), no
    * per-item sort — sized exact at the gate SF (conversions per item
    * ≪ k), the §2.128 exact-at-sketch-cost pattern; lags are exact
    * integer MICROSECONDS (unix_micros both engines), so quantile
    * selection returns bit-identical doubles.
    *
    * Scale shape: two map-side-combined (user, item) groupBys collapse
    * the corpus to first-click / matched-purchase grain, ONE
    * (user, item) hash join between them (fanout = purchases per
    * user-item, time-local), then the item-grain sketch aggregation.
    * No windows over corpus grain anywhere. */
  def conversionLag(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val firstClick = e.filter(col("event_type") === "click")
      .groupBy(col("user_id"),
        get_json_object(col("props"), "$.k").as("item"))
      .agg(min(unix_micros(col("ts"))).as("c_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").as("item"),
        unix_micros(col("ts")).as("p_us"))
    val lags = firstClick.join(purchases, Seq("user_id", "item"))
      .filter(col("p_us") >= col("c_us"))
      .groupBy("user_id", "item")
      .agg((min("p_us") - min("c_us")).as("lag_us")) // c_us constant per group
    lags.groupBy("item")
      .agg(count(lit(1)).as("n_conv"),
        graft.functions.KllQuantile.kll_quantile(
          col("lag_us").cast("double"), 4096, Seq(0.5, 0.9)).as("qs"))
      .select(col("item"), col("n_conv"),
        element_at(col("qs"), 1).as("med_lag_us"),
        element_at(col("qs"), 2).as("p90_lag_us"))
      .orderBy("item")
  }

  val conversionLagSql: String =
    """WITH c AS (SELECT user_id, json_extract_string(props, '$.k') AS item,
      |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS c_us
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |p AS (SELECT user_id, json_extract_string(props, '$.k') AS item,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
      |  FROM events WHERE event_type = 'purchase'),
      |l AS (SELECT c.user_id, c.item, min(p.p_us) - any_value(c.c_us) AS lag_us
      |  FROM c JOIN p ON c.user_id = p.user_id AND c.item = p.item
      |    AND p.p_us >= c.c_us
      |  GROUP BY 1, 2)
      |SELECT item, count(*) AS n_conv,
      |  CAST(quantile_disc(lag_us, 0.5) AS DOUBLE) AS med_lag_us,
      |  CAST(quantile_disc(lag_us, 0.9) AS DOUBLE) AS p90_lag_us
      |FROM l GROUP BY 1 ORDER BY item""".stripMargin

  /** Trailing window (days) and z threshold for [[anomalyRolling]]. */
  val AnomalyWindow = 7
  val AnomalyZ = 3.0

  /** §2.161 rolling z-score anomaly detection on the daily series:
    * each (event_type, day) total scored against the TRAILING
    * [[AnomalyWindow]]-day window (current day excluded — a spike must
    * not mask itself), z = (x − μ)/σ, flagged at |z| > [[AnomalyZ]] —
    * the time-series complement of §2.126's static MAD fences (MAD
    * asks "is this value odd for the distribution"; this asks "is
    * today odd for THIS series' recent past", the on-call pager
    * question). Days without a full trailing window are unscored
    * (null z), not silently compared against a short window.
    *
    * Cross-engine determinism: σ via the explicit moment form
    * √((Σx² − n·μ²)/(n−1)) computed from the SAME windowed sums on
    * both engines — never the built-in stddev, whose accumulation
    * algorithm (Welford vs two-pass) is engine-private; day totals
    * round to 4 dp BEFORE the window (the §2.138 convention) so the
    * moment sums see identical inputs, and z rounds to 4 dp.
    *
    * Scale shape: one map-side-combined groupBy collapses any corpus
    * to (type × day) grain; both windows run over ≤ calendar-span
    * frames (a 100 TB decade ≈ 3 650 rows per type). */
  def anomalyRolling(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(round(sum("value"), 4).as("day_value"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-AnomalyWindow, -1)
    val scored = daily
      .withColumn("n_win", count("day_value").over(w))
      .withColumn("s1", sum("day_value").over(w))
      .withColumn("s2", sum(col("day_value") * col("day_value")).over(w))
    val n = col("n_win")
    val mu = col("s1") / n
    val sd = sqrt((col("s2") - n * mu * mu) / (n - 1))
    scored
      .withColumn("z", when(n === AnomalyWindow && sd > 0,
        round((col("day_value") - mu) / sd, 4)))
      .withColumn("is_anomaly",
        coalesce(abs(col("z")) > AnomalyZ, lit(false)))
      .select("event_type", "day", "day_value", "z", "is_anomaly")
      .orderBy("event_type", "day")
  }

  val anomalyRollingSql: String =
    s"""WITH daily AS (SELECT event_type,
       |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
       |    round(sum(value), 4) AS day_value
       |  FROM events GROUP BY 1, 2),
       |sc AS (SELECT event_type, day, day_value,
       |    count(day_value) OVER w AS n_win,
       |    sum(day_value) OVER w AS s1,
       |    sum(day_value * day_value) OVER w AS s2
       |  FROM daily
       |  WINDOW w AS (PARTITION BY event_type ORDER BY day
       |    ROWS BETWEEN $AnomalyWindow PRECEDING AND 1 PRECEDING)),
       |z AS (SELECT event_type, day, day_value,
       |    CASE WHEN n_win = $AnomalyWindow
       |          AND sqrt((s2 - n_win * (s1/n_win) * (s1/n_win)) / (n_win - 1)) > 0
       |         THEN round((day_value - s1/n_win)
       |           / sqrt((s2 - n_win * (s1/n_win) * (s1/n_win)) / (n_win - 1)), 4)
       |    END AS z
       |  FROM sc)
       |SELECT event_type, day, day_value, z,
       |  coalesce(abs(z) > $AnomalyZ, false) AS is_anomaly
       |FROM z ORDER BY event_type, day""".stripMargin

  /** §2.144 time-weighted average: per user, the TWA of `value` over
    * their event timeline — each observation weighted by how long it
    * held (until the next event), the correct mean for
    * irregularly-sampled series (a plain avg over-weights bursts; the
    * financial/IoT standard). The last observation has no holding
    * interval and is excluded (right-open step function).
    *
    * Scale shape: ONE hash exchange on user_id (the lead window —
    * the §2.134/137 shared-sort family), then row-local weight
    * arithmetic and a map-side-combined per-user aggregation. Weights
    * are exact integer seconds; values ride as exact CENTS so both
    * numerators are order-free BIGINT sums (the float `sum(value*wt)`
    * flipped last 4 dp digits at sf0.1 — round-10 full-surface
    * check), and each reported float is ONE integer-HALF-UP division
    * of identical integers. */
  def timeWeightedAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .withColumn("next_ts", lead("ts", 1).over(w))
      .filter(col("next_ts").isNotNull)
      .withColumn("wt",
        (col("next_ts").cast("long") - col("ts").cast("long")))
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      // HALF-UP precondition (ADVICE r10): the `div` identities below
      // assume non-negative numerators — Spark's div truncates toward
      // zero while DuckDB's // floors, so they agree only for cents,
      // weights >= 0 (wt >= 0 holds by construction: lead over an
      // ascending ts order). The generator keeps value non-negative;
      // this filter ENFORCES it (mirrored in the oracle SQL) the way
      // interval_overlap guards its precondition, so a future negative
      // value is excluded identically on both engines instead of
      // silently diverging on the division grid.
      .filter(col("cents") >= 0)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum("wt").as("span_s"),
        sum(col("cents") * col("wt")).as("_cw"),
        sum("cents").as("_c"))
      .filter(col("span_s") > 0)
      // HALF-UP 4 dp of _cw/(100·span) and _c/(100·n): (num·2e4 + den)
      // div (2·den), one exact integer grid point, then /1e4
      .select(col("user_id"), col("n_intervals"), col("span_s"),
        (expr("(_cw * 20000 + 100 * span_s) div (200 * span_s)")
          .cast("double") / 1e4).as("twa"),
        (expr("(_c * 20000 + 100 * n_intervals) div (200 * n_intervals)")
          .cast("double") / 1e4).as("plain_avg"))
      .orderBy("user_id")
  }

  val timeWeightedAvgSql: String =
    """WITH iv AS (SELECT * FROM (
      |    SELECT user_id, value,
      |      date_diff('second', CAST(ts AS TIMESTAMP),
      |        lead(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
      |          ORDER BY ts, event_id)) AS wt
      |    FROM events) t
      |  WHERE wt IS NOT NULL AND round(value * 100) >= 0),
      |agg AS (SELECT user_id, count(*) AS n_intervals,
      |    CAST(sum(wt) AS BIGINT) AS span_s,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT) * wt) AS BIGINT) AS cw,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
      |  FROM iv GROUP BY user_id HAVING sum(wt) > 0)
      |SELECT user_id, n_intervals, span_s,
      |  CAST((cw * 20000 + 100 * span_s) // (200 * span_s) AS DOUBLE) / 1e4
      |    AS twa,
      |  CAST((c * 20000 + 100 * n_intervals) // (200 * n_intervals)
      |    AS DOUBLE) / 1e4 AS plain_avg
      |FROM agg ORDER BY user_id""".stripMargin

  /** §2.145 session journey paths: the top-20 most common
    * within-session event-type sequences (the "user journey" report —
    * which flows dominate, where do sessions end). Sessions are the
    * §2.36 30-minute-gap islands, rebuilt here with the same two
    * windows; the path string joins event types in (ts, event_id)
    * order via array_sort over (ts, event_id, type) structs — Spark's
    * collect_list is UNORDERED, so the sort must be explicit for
    * determinism (DuckDB: string_agg ORDER BY).
    *
    * Scale shape: one user_id exchange (shared by both session
    * windows), one session-grain groupBy (map-side combined), one
    * path-grain count, and a distributed TakeOrderedAndProject top-20
    * — no global window, path cardinality never collects. */
  def sessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sessions = Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") >
            graft.streaming.Streaming.SessionGapMinutes * 60L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val paths = sessions.groupBy("user_id", "session_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"),
          col("event_type")))),
        x => x.getField("event_type")), ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(desc("n_sessions"), col("path")).limit(20)
    paths.withColumn("rk", row_number().over(
        Window.orderBy(desc("n_sessions"), col("path"))))
      .select("rk", "path", "n_sessions")
      .orderBy("rk")
  }

  val sessionPathsSql: String =
    s"""WITH flagged AS (
       |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
       |    CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
       |           OR date_diff('second', lag(CAST(ts AS TIMESTAMP)) OVER w,
       |                CAST(ts AS TIMESTAMP)) >
       |             ${graft.streaming.Streaming.SessionGapMinutes * 60}
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sess AS (
       |  SELECT user_id, event_type, ts, event_id,
       |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM flagged),
       |paths AS (
       |  SELECT user_id, session_id,
       |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
       |  FROM sess GROUP BY 1, 2),
       |counted AS (SELECT path, count(*) AS n_sessions FROM paths GROUP BY 1),
       |ranked AS (SELECT path, n_sessions,
       |    row_number() OVER (ORDER BY n_sessions DESC, path) AS rk
       |  FROM counted)
       |SELECT rk, path, n_sessions FROM ranked WHERE rk <= 20
       |ORDER BY rk""".stripMargin

  /** Attribution lookback window (days): clicks older than this before
    * a purchase earn no credit. */
  val AttributionLookbackDays = 7

  /** §2.149 multi-touch purchase attribution: every purchase credits
    * the items the user clicked in the preceding
    * [[AttributionLookbackDays]] — last-touch (the final click wins
    * outright) and linear (credit split evenly across all touches) —
    * the marketing/recommendation standard for "which item drove the
    * conversion". Reported per item: touch volume, last-touch wins,
    * linear credit, and linearly-shared purchase value.
    *
    * Scale shape: ONE hash join of the purchase stream onto the click
    * stream by user_id — fanout is bounded by per-user activity within
    * the lookback (time-local by construction), never corpus². Both
    * windows share the single p_id exchange; the per-item rollup
    * map-side combines. Last-touch ties break on (ts, event_id) so
    * both engines pick the same click. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        col("ts").as("p_ts"), col("value").as("p_value"))
    // item IS NOT NULL on both engine sides: a click without the k
    // prop would otherwise form a NULL group that sorts NULLS FIRST in
    // Spark but NULLS LAST in DuckDB — a latent row-order divergence
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_id"),
        col("ts").as("c_ts"),
        get_json_object(col("props"), "$.k").as("item"))
      .filter(col("item").isNotNull)
    val touches = purchases.join(clicks, "user_id")
      .filter(col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $AttributionLookbackDays DAYS"))
    val byP = Window.partitionBy("p_id")
    touches
      .withColumn("n_touch", count(lit(1)).over(byP))
      .withColumn("rn", row_number().over(
        byP.orderBy(desc("c_ts"), desc("c_id"))))
      // INTEGER micro-credits, not per-addend float rounding: the r7
      // round-before-sum trick still summed ~500 not-exactly-on-grid
      // doubles per item, and at sf0.1 the engine-local addition order
      // flipped the final 1e-4 digit on a third of the items (round-10
      // full-surface sf0.1 check). Each share is now a HALF-UP integer
      // division — micro-units of 1e-6 (credit) / 1e-6 dollars (value)
      // — so the sums are exact BIGINTs in ANY order on both engines
      // and the only float op is the final display division.
      .withColumn("p_cents",
        expr("CAST(round(p_value * 100) AS BIGINT)"))
      .withColumn("micro_lin", expr("(2000000 + n_touch) div (2 * n_touch)"))
      .withColumn("micro_val",
        expr("(2 * p_cents * 10000 + n_touch) div (2 * n_touch)"))
      .groupBy("item")
      .agg(count(lit(1)).as("touches"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("last_touch_wins"),
        round(sum("micro_lin").cast("double") / 1e6, 6).as("linear_credit"),
        (expr("(sum(micro_val) + 50) div 100").cast("double") / 1e4)
          .as("value_linear"))
      .orderBy("item")
  }

  val attributionSql: String =
    s"""WITH p AS (SELECT user_id, event_id AS p_id,
       |    CAST(ts AS TIMESTAMP) AS p_ts, value AS p_value
       |  FROM events WHERE event_type = 'purchase'),
       |c AS (SELECT user_id, event_id AS c_id, CAST(ts AS TIMESTAMP) AS c_ts,
       |    json_extract_string(props, '$$.k') AS item
       |  FROM events WHERE event_type = 'click'
       |    AND json_extract_string(props, '$$.k') IS NOT NULL),
       |t AS (SELECT p.p_id, p.p_value, c.item, c.c_ts, c.c_id
       |  FROM p JOIN c ON p.user_id = c.user_id
       |    AND c.c_ts <= p.p_ts
       |    AND c.c_ts >= p.p_ts - INTERVAL $AttributionLookbackDays DAY),
       |x AS (SELECT item, p_value,
       |    CAST(round(p_value * 100) AS BIGINT) AS p_cents,
       |    count(*) OVER (PARTITION BY p_id) AS n_touch,
       |    row_number() OVER (PARTITION BY p_id
       |      ORDER BY c_ts DESC, c_id DESC) AS rn
       |  FROM t)
       |SELECT item, count(*) AS touches,
       |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS last_touch_wins,
       |  round(CAST(sum((2000000 + n_touch) // (2 * n_touch)) AS DOUBLE) / 1e6, 6)
       |    AS linear_credit,
       |  CAST((CAST(sum((2 * p_cents * 10000 + n_touch) // (2 * n_touch))
       |      AS BIGINT) + 50) // 100 AS DOUBLE) / 1e4 AS value_linear
       |FROM x GROUP BY item ORDER BY item""".stripMargin

  /** §2.264 `attribution_decay`: time-decay multi-touch attribution
    * with a ONE-DAY HALF-LIFE — each click's weight halves per day of
    * age at purchase time, the standard recency-weighted model
    * between §2.149's positional rules and §2.234's Markov solve.
    *
    * Determinism trick: the obvious weight e^(−λΔt) drags libm exp
    * across engines; instead the weight is the EXACT INTEGER
    * 2^(lookback − age_days) (a bit shift — halving per day IS the
    * half-life), so per-purchase weight totals are integer sums and
    * each touch's share is one division of exact integers. Shares
    * then follow §2.149's per-addend rounding law (each addend an
    * exact multiple of 1e-6 before the cross-touch sum, so addition
    * order cannot flip the final rounding).
    *
    * Scale shape: identical to §2.149 — one user_id join, one
    * purchase-partitioned window (weight totals, order-free integer
    * sums), one item groupBy. */
  def attributionDecay(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        col("ts").as("p_ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_id"),
        col("ts").as("c_ts"),
        get_json_object(col("props"), "$.k").as("item"))
      .filter(col("item").isNotNull)
    val L = AttributionLookbackDays
    val touches = purchases.join(clicks, "user_id")
      .filter(col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $L DAYS"))
      .withColumn("age_days",
        ((unix_micros(col("p_ts")) - unix_micros(col("c_ts"))) /
          86400000000L).cast("int"))
      .withColumn("w", expr(s"shiftleft(CAST(1 AS BIGINT), $L - age_days)"))
    val byP = Window.partitionBy("p_id")
    touches
      .withColumn("w_total", sum("w").over(byP))
      .groupBy("item")
      .agg(count(lit(1)).as("touches"),
        round(sum(round(col("w").cast("double") / col("w_total"), 6)), 6)
          .as("decay_credit"))
      .orderBy("item")
  }

  val attributionDecaySql: String = {
    val L = AttributionLookbackDays
    s"""WITH p AS (SELECT user_id, event_id AS p_id,
       |    CAST(ts AS TIMESTAMP) AS p_ts
       |  FROM events WHERE event_type = 'purchase'),
       |c AS (SELECT user_id, event_id AS c_id, CAST(ts AS TIMESTAMP) AS c_ts,
       |    json_extract_string(props, '$$.k') AS item
       |  FROM events WHERE event_type = 'click'
       |    AND json_extract_string(props, '$$.k') IS NOT NULL),
       |t AS (SELECT p.p_id, c.item,
       |    CAST((epoch_us(p.p_ts) - epoch_us(c.c_ts)) // 86400000000
       |      AS INTEGER) AS age_days
       |  FROM p JOIN c ON p.user_id = c.user_id
       |    AND c.c_ts <= p.p_ts
       |    AND c.c_ts >= p.p_ts - INTERVAL $L DAY),
       |x AS (SELECT item,
       |    CAST(1 AS BIGINT) << ($L - age_days) AS w,
       |    CAST(sum(CAST(1 AS BIGINT) << ($L - age_days))
       |      OVER (PARTITION BY p_id) AS BIGINT) AS w_total
       |  FROM t)
       |SELECT item, count(*) AS touches,
       |  round(sum(round(CAST(w AS DOUBLE) / w_total, 6)), 6)
       |    AS decay_credit
       |FROM x GROUP BY item ORDER BY item""".stripMargin
  }

  /** §2.150 rolling active users: per active day, the distinct-user
    * count over the trailing 1 / 7 / 28 days (DAU / WAU / MAU) — the
    * engagement series every health dashboard leads with, and a
    * rolling DISTINCT, which no plain window frame computes (distinct
    * doesn't decompose over frame slides).
    *
    * Technique: collapse the corpus to the user-day grain once, then
    * EXPLODE each user-day forward onto the `w` target days it makes
    * active — the rolling distinct becomes a plain per-day
    * count_distinct over a ≤ 35×(user-day) frame. Corpus-sized data is
    * touched exactly once (the first distinct); everything after is
    * user-day grain, orders of magnitude smaller at 100 TB. Days with
    * zero events are absent from the series (inner join on the DAU
    * spine), matching the oracle's range-join form. */
  def rollingActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    // lazy barrier: dau/wau/mau are three subtrees over the same
    // user-day distinct — without it the corpus scan + distinct runs
    // three times (once per subtree), breaking the "corpus touched
    // exactly once" contract; the barrier materializes the user-day
    // grain once inside the caller's action
    val du = graft.Barrier("active_users.user_days", Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct())
    def rolling(w: Int, name: String): DataFrame = du
      .select(col("user_id"), explode(
        expr(s"sequence(day, date_add(day, ${w - 1}), interval 1 day)")).as("day"))
      .groupBy("day").agg(countDistinct("user_id").as(name))
    val dau = du.groupBy("day").agg(countDistinct("user_id").as("dau"))
    dau.join(rolling(7, "wau"), "day").join(rolling(28, "mau"), "day")
      .select(col("day").cast("timestamp").as("day"),
        col("dau"), col("wau"), col("mau"))
      .orderBy("day")
  }

  val rollingActiveUsersSql: String =
    """WITH du AS (SELECT DISTINCT user_id,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
      |days AS (SELECT DISTINCT day FROM du),
      |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM du GROUP BY 1),
      |wau AS (SELECT d.day, count(DISTINCT u.user_id) AS wau
      |  FROM days d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
      |  GROUP BY 1),
      |mau AS (SELECT d.day, count(DISTINCT u.user_id) AS mau
      |  FROM days d JOIN du u ON u.day BETWEEN d.day - 27 AND d.day
      |  GROUP BY 1)
      |SELECT CAST(dau.day AS TIMESTAMP) AS day, dau, wau, mau
      |FROM dau JOIN wau USING (day) JOIN mau USING (day)
      |ORDER BY day""".stripMargin

  /** §2.202 rolling distinct users from MERGED day-grain HLL sketches
    * (`rolling_hll_users`): trailing-7-day WAU estimated by
    * element-wise-max-merging each day's persisted register table —
    * THE mergeable-sketch payoff at 100 TB: the raw corpus is touched
    * exactly once (one day-grain register build, §2.160's aggregate in
    * its register-returning form), and ANY trailing window / slice
    * rollup after that is arithmetic over day×4096 register rows.
    * §2.150 answers the same question by re-expanding user-day rows;
    * this answers it from 16 KB/day of state — the difference between
    * re-scanning a year and reading 6 MB.
    *
    * Shape: register cells sparse-exploded (rho>0), explode-forward
    * onto the ≤7 target days they influence (the §2.150 trick — a
    * rows-window can't see buckets absent on the output day), max per
    * (day, bucket), then the §2.160 estimate expression per day: the
    * harmonic sum is the exact integer Σ2^(49−M_j) with absent
    * buckets folded in as (4096−present)·2^49, so row order cannot
    * move a bit; both engines evaluate the identical float expression
    * once per day. Reported against the exact trailing distinct
    * (which needs the full user-day table — the thing you DROP at
    * scale) with the signed error. */
  def rollingHllUsers(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HllRegisters.hll_registers
    import graft.text.TextFunctions.hash64
    val m = graft.functions.HllSketch.M
    val sp = graft.functions.HllSketch.ScalePow
    // lazy barrier: the register build, the exact comparator, and the
    // real-day spine are three subtrees over the same projection — the
    // barrier keeps the corpus scan at exactly one (the §2.150
    // pattern); everything downstream is day- or user-day-grain
    val ev = graft.Barrier("rolling_hll.user_days", Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"),
        hash64(col("user_id").cast("string")).as("h")))
    val realDays = ev.select("day").distinct()
    val cells = ev.groupBy("day").agg(hll_registers(col("h")).as("regs"))
      .select(col("day"), posexplode(col("regs")).as(Seq("bucket", "rho")))
      .filter(col("rho") > 0)
    val wreg = cells
      .select(col("bucket"), col("rho"), explode(
        expr("sequence(day, date_add(day, 6), interval 1 day)")).as("day"))
      .groupBy("day", "bucket").agg(max("rho").as("mr"))
    val agg = wreg.groupBy("day").agg(
      (sum(expr(s"shiftleft(1L, $sp - mr)")) +
        (lit(m.toLong) - count(lit(1))) * lit(1L << sp)).as("ssum"),
      (lit(m.toLong) - count(lit(1))).as("zeros"))
    // identical float expression order to the DuckDB oracle (and to
    // §2.160's): alpha * m * m * 2^sp / ssum, left-associated
    val est = agg
      .withColumn("e_raw",
        (lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))) *
          lit(m.toDouble) * lit(m.toDouble) * lit((1L << sp).toDouble) /
          col("ssum").cast("double"))
      .withColumn("wau_hll", round(
        when(col("e_raw") <= lit(2.5 * m) && col("zeros") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("zeros")))
          .otherwise(col("e_raw")), 4))
      .select("day", "wau_hll")
    val exact = ev.select("day", "user_id").distinct()
      .select(col("user_id"), explode(
        expr("sequence(day, date_add(day, 6), interval 1 day)")).as("day"))
      .groupBy("day").agg(countDistinct("user_id").as("wau_exact"))
    est.join(exact, "day")
      .join(realDays, Seq("day"), "left_semi")
      .select(col("day").cast("timestamp").as("day"),
        col("wau_exact"), col("wau_hll"),
        round((col("wau_hll") - col("wau_exact")) * 100.0 /
          col("wau_exact"), 4).as("err_pct"))
      .orderBy("day")
  }

  val rollingHllUsersSql: String = {
    import graft.text.TextFunctions.hash64Sql
    val m = graft.functions.HllSketch.M
    val p = graft.functions.HllSketch.P
    val wb = graft.functions.HllSketch.WindowBits
    val sp = graft.functions.HllSketch.ScalePow
    s"""WITH ev AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id,
       |    ${hash64Sql("CAST(user_id AS VARCHAR)")} AS h FROM events),
       |rdays AS (SELECT DISTINCT day FROM ev),
       |reg AS (SELECT day, h & ${m - 1} AS bucket,
       |    max(CASE WHEN (h >> $p) = 0 THEN ${wb + 1}
       |        ELSE $wb - length(bin((h >> $p)::BIGINT)) + 1 END) AS rho
       |  FROM ev GROUP BY 1, 2),
       |fan AS (SELECT day + g.i AS day, bucket, rho
       |  FROM reg CROSS JOIN (SELECT unnest(generate_series(0, 6))::INTEGER AS i) g),
       |wreg AS (SELECT day, bucket, max(rho) AS mr FROM fan GROUP BY 1, 2),
       |agg AS (SELECT day,
       |    CAST(sum((1::BIGINT) << ($sp - mr)) AS BIGINT)
       |      + ($m - count(*)) * ((1::BIGINT) << $sp) AS ssum,
       |    $m - count(*) AS zeros
       |  FROM wreg GROUP BY 1),
       |est AS (SELECT day,
       |    (0.7213 / (1.0 + 1.079 / ${m.toDouble})) * ${m.toDouble}
       |      * ${m.toDouble} * ${(1L << sp).toDouble} / CAST(ssum AS DOUBLE)
       |      AS e_raw, zeros
       |  FROM agg),
       |hll AS (SELECT day,
       |    round(CASE WHEN e_raw <= ${2.5 * m} AND zeros > 0
       |      THEN ${m.toDouble} * ln(${m.toDouble} / zeros)
       |      ELSE e_raw END, 4) AS wau_hll
       |  FROM est),
       |ex AS (SELECT d2.day AS day, count(DISTINCT du.user_id) AS wau_exact
       |  FROM (SELECT DISTINCT day, user_id FROM ev) du
       |  CROSS JOIN (SELECT unnest(generate_series(0, 6))::INTEGER AS i) g,
       |  LATERAL (SELECT du.day + g.i AS day) d2
       |  GROUP BY 1)
       |SELECT CAST(h.day AS TIMESTAMP) AS day, wau_exact, wau_hll,
       |  round((wau_hll - wau_exact) * 100.0 / wau_exact, 4) AS err_pct
       |FROM hll h JOIN ex USING (day) JOIN rdays USING (day)
       |ORDER BY day""".stripMargin
  }

  /** §2.151 weekly seasonality profile: event volume and mean value
    * per (day-of-week, hour-of-day) cell, with the activity index
    * (observed / uniform-expected volume) that bares the weekly cycle
    * — the baseline every anomaly detector and capacity planner
    * normalizes against.
    *
    * Scale shape: one map-side-combined groupBy collapses any corpus
    * to ≤ 168 cells; the total joins back as a 1-row broadcast. Day
    * numbering pinned to Spark's dayofweek (1 = Sunday); DuckDB's
    * 0-based dayofweek shifts by one in the oracle. */
  def seasonality(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .groupBy(dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"))
    val tot = cells.agg(sum("n").as("tot"))
    cells.crossJoin(broadcast(tot))
      .withColumn("activity_index",
        round(col("n") * lit(168) / col("tot"), 4))
      .select("dow", "hr", "n", "avg_value", "activity_index")
      .orderBy("dow", "hr")
  }

  val seasonalitySql: String =
    """WITH cells AS (SELECT dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS dow,
      |    hour(CAST(ts AS TIMESTAMP)) AS hr,
      |    count(*) AS n, round(avg(value), 4) AS avg_value
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT sum(n) AS tot FROM cells)
      |SELECT dow, hr, n, avg_value,
      |  round(n * 168 / tot, 4) AS activity_index
      |FROM cells CROSS JOIN t ORDER BY dow, hr""".stripMargin

  val gapFillSql: String =
    """WITH daily AS (SELECT event_type,
      |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
      |    round(sum(value), 4) AS day_value
      |  FROM events GROUP BY 1, 2),
      |spine AS (SELECT event_type,
      |    unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      |  FROM (SELECT event_type, min(day) AS d0, max(day) AS d1
      |      FROM daily GROUP BY 1) t),
      |j AS (SELECT s.event_type, s.day, d.day_value,
      |    count(d.day_value) OVER (PARTITION BY s.event_type
      |      ORDER BY s.day) AS grp
      |  FROM spine s LEFT JOIN daily d
      |    ON s.event_type = d.event_type AND s.day = d.day)
      |SELECT event_type, day,
      |  max(day_value) OVER (PARTITION BY event_type, grp) AS value_ffill,
      |  day_value IS NULL AS is_gap
      |FROM j ORDER BY event_type, day""".stripMargin

  /** §2.212 forecast backtest (`forecast_backtest`): per event_type,
    * walk-forward accuracy of the 7-day moving-average forecaster
    * against the persistence (yesterday = today) baseline on the daily
    * volume series — the harness that says whether a forecaster earns
    * its keep (a model that can't beat persistence shouldn't page
    * anyone). One corpus scan collapses to the day-grain series; both
    * predictors are frame windows over it; scoring is day-grain
    * arithmetic. Each APE addend is an identical-integer division
    * (window sums of BIGINT counts), so only the final per-type mean
    * is rounded (4 dp). Days without ≥7 prior days are not scored. */
  def forecastBacktest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val scored = daily
      .withColumn("rn", row_number().over(w))
      .withColumn("ma7",
        sum("n").over(w.rowsBetween(-7, -1)).cast("double") / 7.0)
      .withColumn("naive", lag("n", 1).over(w).cast("double"))
      .filter(col("rn") > 7)
    scored.groupBy("event_type").agg(
      count(lit(1)).as("n_days"),
      round(avg(abs(col("n") - col("ma7")) / col("n")), 4).as("mape_ma7"),
      round(avg(abs(col("n") - col("naive")) / col("n")), 4)
        .as("mape_naive"))
      .withColumn("improvement",
        round(col("mape_naive") - col("mape_ma7"), 4))
      .orderBy("event_type")
  }

  val forecastBacktestSql: String =
    """WITH daily AS (SELECT event_type,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |scored AS (SELECT event_type, n,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
      |    CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS DOUBLE) / 7.0 AS ma7,
      |    CAST(lag(n, 1) OVER (PARTITION BY event_type ORDER BY day)
      |      AS DOUBLE) AS naive
      |  FROM daily)
      |SELECT event_type, count(*) AS n_days,
      |  round(avg(abs(n - ma7) / n), 4) AS mape_ma7,
      |  round(avg(abs(n - naive) / n), 4) AS mape_naive,
      |  round(round(avg(abs(n - naive) / n), 4)
      |    - round(avg(abs(n - ma7) / n), 4), 4) AS improvement
      |FROM scored WHERE rn > 7
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** §2.213 CUSUM change-point detection (`changepoint_cusum`): per
    * event_type, the day where the cumulative sum of (daily volume −
    * series mean) peaks in magnitude — the classic level-shift locator
    * (Page's CUSUM in its retrospective form), with the before/after
    * means quantifying the shift. The running sum is ORDERED
    * arithmetic, so both engines produce bit-identical partials
    * (left-to-right over the same integers); the argmax tie-breaks on
    * earliest day. Day-grain frames throughout; the corpus is touched
    * once. */
  def changepointCusum(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val wAll = Window.partitionBy("event_type")
    val wOrd = Window.partitionBy("event_type").orderBy("day")
    val cusum = daily
      .withColumn("mean_n",
        sum("n").over(wAll).cast("double") /
          count(lit(1)).over(wAll).cast("double"))
      .withColumn("cusum", sum(col("n").cast("double") - col("mean_n"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rk", row_number().over(
        Window.partitionBy("event_type")
          .orderBy(abs(col("cusum")).desc, col("day").asc)))
    val change = cusum.filter(col("rk") === 1)
      .select(col("event_type"), col("day").as("change_day"),
        round(col("cusum"), 4).as("peak_cusum"))
    val sides = daily.join(change, "event_type")
      .groupBy("event_type").agg(
        round(avg(when(col("day") <= col("change_day"), col("n"))), 4)
          .as("mean_before"),
        round(avg(when(col("day") > col("change_day"), col("n"))), 4)
          .as("mean_after"))
    change.join(sides, "event_type")
      .select(col("event_type"), col("change_day").cast("timestamp")
        .as("change_day"), col("peak_cusum"), col("mean_before"),
        col("mean_after"))
      .orderBy("event_type")
  }

  val changepointCusumSql: String =
    """WITH daily AS (SELECT event_type,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |withmean AS (SELECT event_type, day, n,
      |    CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE)
      |      / CAST(count(*) OVER (PARTITION BY event_type) AS DOUBLE) AS mean_n
      |  FROM daily),
      |c AS (SELECT event_type, day, n,
      |    sum(CAST(n AS DOUBLE) - mean_n)
      |      OVER (PARTITION BY event_type ORDER BY day
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
      |  FROM withmean),
      |r AS (SELECT event_type, day, cusum,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY abs(cusum) DESC, day ASC) AS rk
      |  FROM c),
      |chg AS (SELECT event_type, day AS change_day,
      |    round(cusum, 4) AS peak_cusum FROM r WHERE rk = 1),
      |sides AS (SELECT d.event_type,
      |    round(avg(CASE WHEN d.day <= g.change_day THEN d.n END), 4)
      |      AS mean_before,
      |    round(avg(CASE WHEN d.day > g.change_day THEN d.n END), 4)
      |      AS mean_after
      |  FROM daily d JOIN chg g USING (event_type) GROUP BY 1)
      |SELECT c.event_type, CAST(c.change_day AS TIMESTAMP) AS change_day,
      |  c.peak_cusum, s.mean_before, s.mean_after
      |FROM chg c JOIN sides s USING (event_type)
      |ORDER BY c.event_type""".stripMargin

  /** §2.216 click-concentration report (`pareto_report`): the share of
    * all clicks captured by the top 1/5/10/25% of items — §2.171's
    * Zipf law operationalized into the number a curation meeting acts
    * on ("the head owns X%"; exposure risk, cache sizing, how much a
    * popularity recommender can ever cover). One item-grain groupBy
    * (bounded by catalog, not events), one rank window with a running
    * sum over it, then the constant threshold grid joins against the
    * cumulative frame at its exact rank — integers end-to-end until
    * the final share division. Ties rank deterministically
    * (count desc, item asc). */
  def paretoReport(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.events(spark, dir)
      .filter(col("event_type") === "click")
      .select(get_json_object(col("props"), "$.k").cast("bigint").as("item"))
      .filter(col("item").isNotNull)
      .groupBy("item").agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("n").desc, col("item").asc)
    val ranked = counts
      .withColumn("rk", row_number().over(w))
      .withColumn("cum", sum("n").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val totals = counts.agg(count(lit(1)).as("n_items"),
      sum("n").as("total_clicks"))
    val thresholds = totals
      .select(explode(array(Seq(1, 5, 10, 25).map(lit): _*)).as("top_pct"),
        col("n_items"), col("total_clicks"))
      .withColumn("top_n", greatest(lit(1L),
        floor(col("n_items") * col("top_pct") / 100.0).cast("long")))
    thresholds
      .join(ranked.select(col("rk").as("top_n"), col("cum")), "top_n")
      .select(col("top_pct"), col("top_n"), col("n_items"),
        col("total_clicks"),
        round(col("cum").cast("double") / col("total_clicks"), 6)
          .as("click_share"))
      .orderBy("top_pct")
  }

  val paretoReportSql: String =
    """WITH counts AS (SELECT
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
      |    count(*) AS n
      |  FROM events WHERE event_type = 'click'
      |    AND json_extract_string(props, '$.k') IS NOT NULL
      |  GROUP BY 1),
      |ranked AS (SELECT n,
      |    row_number() OVER (ORDER BY n DESC, item ASC) AS rk,
      |    CAST(sum(n) OVER (ORDER BY n DESC, item ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM counts),
      |t AS (SELECT count(*) AS n_items, CAST(sum(n) AS BIGINT) AS total_clicks
      |  FROM counts),
      |grid AS (SELECT unnest([1, 5, 10, 25]) AS top_pct),
      |th AS (SELECT g.top_pct,
      |    greatest(1, CAST(floor(t.n_items * g.top_pct / 100.0) AS BIGINT))
      |      AS top_n, t.n_items, t.total_clicks
      |  FROM grid g CROSS JOIN t)
      |SELECT th.top_pct, th.top_n, th.n_items, th.total_clicks,
      |  round(CAST(r.cum AS DOUBLE) / th.total_clicks, 6) AS click_share
      |FROM th JOIN ranked r ON r.rk = th.top_n
      |ORDER BY th.top_pct""".stripMargin

  /** §2.237 `peak_concurrency`: maximum concurrent user sessions per
    * day — the sweep-line (max-overlapping-intervals) workload class
    * and the capacity number connection pools / rate limits are sized
    * from (daily volume says how MUCH, concurrency says how AT-ONCE;
    * §2.236's Fano says bursty, this says how high the burst stacks).
    * Sessions are the §2.36 30-minute-gap sessions; each emits a
    * (+1 at start, −1 after end) delta, and per day a running sum
    * ordered by (ts, delta DESC, user) — starts sort BEFORE ends at
    * the same instant (closed-interval convention: a session ending
    * exactly when another starts counts as 2 concurrent for that
    * instant) — whose max is the day's peak.
    *
    * Scale shape: ONE user_id exchange builds sessions (the shared-
    * sort family); deltas are 2 rows per session; the sweep is a
    * day-partitioned window over the delta stream (a day's deltas ≤
    * 2× that day's sessions — the same per-partition bound every
    * calendar-grain window here rides; a GLOBAL sweep would be one
    * unbounded sorted partition). A session belongs WHOLLY to its
    * start day (midnight-spanners keep their −1 in the start day's
    * sweep), so the sweep never goes negative and "peak on day d" =
    * max concurrency among day-d-started sessions — identical
    * convention both engines. Integers end-to-end; the gap test is
    * the suite-wide floor-seconds convention (Spark `cast(ts as
    * long)` ≡ DuckDB `date_diff('second', …)`) — the r11 sf1 gate
    * caught this oracle comparing fractional `epoch()` instead, which
    * flips session boundaries on sub-second timestamps. */
  def peakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val sess = Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") >
            graft.streaming.Streaming.SessionGapMinutes * 60L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum("new_session").over(byUser.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min("ts").as("s_start"), max("ts").as("s_end"))
    // both deltas key on the session's START day, so every session is
    // whole within one partition and the sweep never goes negative
    val deltas = sess.select(col("user_id"), col("s_start").as("t"),
        lit(1L).as("delta"), to_date(col("s_start")).as("day"))
      .unionAll(sess.select(col("user_id"), col("s_end").as("t"),
        lit(-1L).as("delta"), to_date(col("s_start")).as("day")))
    // starts sort BEFORE ends at the same instant (delta desc): a
    // single-event session is active AT its instant, and an interval
    // closed at both ends counts at its boundary
    val sweep = Window.partitionBy("day")
      .orderBy(col("t"), col("delta").desc, col("user_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .withColumn("conc", sum("delta").over(sweep))
      .groupBy("day").agg(
        (sum(when(col("delta") === 1, 1L).otherwise(0L))).as("n_sessions"),
        max("conc").as("peak_concurrent"))
      .select(col("day").cast("timestamp").as("day"), col("n_sessions"),
        col("peak_concurrent"))
      .orderBy("day")
  }

  val peakConcurrencySql: String =
    s"""WITH ev AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
       |  FROM events),
       |flagged AS (SELECT user_id, event_id, ts,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |      OR date_diff('second', lag(ts) OVER w, ts)
       |        > ${graft.streaming.Streaming.SessionGapMinutes} * 60
       |      THEN 1 ELSE 0 END AS new_session
       |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sess AS (SELECT user_id, session_id,
       |    min(ts) AS s_start, max(ts) AS s_end
       |  FROM (SELECT user_id, ts,
       |      sum(new_session) OVER (PARTITION BY user_id
       |        ORDER BY ts, event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |        AS session_id
       |    FROM flagged) t GROUP BY 1, 2),
       |deltas AS (
       |  SELECT user_id, s_start AS t, 1 AS delta,
       |    CAST(s_start AS DATE) AS d FROM sess
       |  UNION ALL
       |  SELECT user_id, s_end AS t, -1 AS delta,
       |    CAST(s_start AS DATE) AS d FROM sess),
       |sweep AS (SELECT CAST(d AS TIMESTAMP) AS day, delta,
       |    CAST(sum(delta) OVER (PARTITION BY d
       |      ORDER BY t, delta DESC, user_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS conc
       |  FROM deltas)
       |SELECT day,
       |  CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_sessions,
       |  CAST(max(conc) AS BIGINT) AS peak_concurrent
       |FROM sweep GROUP BY day ORDER BY day""".stripMargin

  /** Absorption-iteration rounds for [[attributionMarkov]] — FIXED so
    * both engines replay the identical truncated arithmetic (the
    * output is DEFINED as the 64-round value; parity never depends on
    * convergence, only quality does, and 64 rounds is far past the
    * 6 dp horizon on journey-shaped chains). */
  val MarkovIters = 64

  /** The synthetic start/terminal state names — digit-prefixed so
    * their byte order sorts BEFORE every lowercase event type in both
    * engines' binary collation (the iteration's ordered dot products
    * key on this shared ordering). */
  val StartState = "0start"
  val NullState = "1null"

  /** The non-absorbing channel states both engines iterate over. The
    * oracle SQL unrolls one removal chain PER channel at string-build
    * time, so it cannot derive this set from the data — the Spark side
    * asserts the observed set matches and fails loudly if the corpus
    * ever grows a new event type, instead of silently diverging at
    * gate time. */
  val MarkovChannels = Seq("click", "error", "signup", "view")

  /** §2.234 `attribution_markov`: Markov removal-effect attribution
    * (the Anderl et al. data-driven model) — the principled sibling
    * of §2.149's positional rules: build the first-order journey
    * chain (START → events → purchase|dropout), compute P(conversion)
    * by absorption, and credit each channel by how much conversion
    * COLLAPSES when that channel's state is removed (paths through it
    * break) — removal_effect(c) = 1 − P_conv^{−c}/P_conv, shares
    * normalized.
    *
    * Scale shape: journeys need exactly ONE user_id exchange (the
    * §2.137 lag-window class); transitions partial-aggregate map-side
    * into a ≤(types+2)² cell frame; the absorbing-chain solve runs on
    * the DRIVER over that bounded matrix (the §2.230 pattern) as
    * [[MarkovIters]] fixed iterations.
    *
    * Determinism: transition probabilities are single divisions of
    * exact integer counts; each iteration's dot products fold in
    * dst-byte-order over EXISTING cells (sparse ≡ dense: the missing
    * terms are exact +0.0), so Scala's fold and DuckDB's ordered
    * list_sum (§2.230) yield bit-identical doubles; 6 dp display. */
  def attributionMarkov(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("rn", row_number().over(w))
    val firstPurchase = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("rn").as("prn"))
    val jj = ev.join(firstPurchase, Seq("user_id"), "left")
      .filter(col("prn").isNull || col("rn") <= col("prn"))
    val wj = Window.partitionBy("user_id").orderBy("rn")
    val steps = jj
      .withColumn("nxt", lead("event_type", 1).over(wj))
      .select(col("rn"), col("event_type"), col("nxt"))
    val starts = jj.filter(col("rn") === 1)
      .select(lit(StartState).as("src"), col("event_type").as("dst"))
    val moves = steps.filter(col("event_type") =!= "purchase")
      .select(col("event_type").as("src"),
        coalesce(col("nxt"), lit(NullState)).as("dst"))
    val counts = starts.unionAll(moves)
      .groupBy("src", "dst").agg(count(lit(1)).as("c"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .toMap
    // driver-side absorbing-chain iteration over the bounded matrix
    val states = (counts.keys.map(_._1) ++ counts.keys.map(_._2))
      .toSeq.distinct.sorted
    val rowTot = counts.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val outEdges = counts.keys.toSeq.sorted // (src, dst) byte order
      .groupBy(_._1).view
      .mapValues(_.map { case (s, d) =>
        (d, counts((s, d)).toDouble / rowTot(s)) }).toMap
    def solve(removed: Option[String]): Double = {
      var v = states.map(s =>
        s -> (if (s == "purchase") 1.0 else 0.0)).toMap
      for (_ <- 1 to MarkovIters) {
        v = states.map { s =>
          val nv =
            if (s == "purchase") 1.0
            else if (s == NullState) 0.0
            else if (removed.contains(s)) 0.0
            else outEdges.get(s) match {
              case None => 0.0
              case Some(es) =>
                es.foldLeft(0.0) { case (acc, (d, p)) => acc + p * v(d) }
            }
          s -> nv
        }.toMap
      }
      v(StartState)
    }
    val pFull = solve(None)
    val channels = states
      .filterNot(s => s == StartState || s == NullState || s == "purchase")
    require(channels == MarkovChannels,
      s"attribution_markov: observed channel set $channels != " +
        s"$MarkovChannels hardcoded in attributionMarkovSql's removal " +
        "chains - update MarkovChannels (both engines) for the new type")
    val ratios = channels.map(c => c -> solve(Some(c)) / pFull)
    val totEff = ratios.foldLeft(0.0) { case (acc, (_, r)) =>
      acc + (1.0 - r) }
    def r6(x: Double): Double = new java.math.BigDecimal(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    import spark.implicits._
    ratios.map { case (c, ratio) =>
      (c, r6(pFull), r6(ratio), r6(1.0 - ratio),
        if (totEff > 0) r6((1.0 - ratio) / totEff) else 0.0)
    }.toDF("channel", "p_conv", "p_conv_ratio_removed", "removal_effect",
      "credit_share")
      .orderBy("channel")
  }

  val attributionMarkovSql: String = {
    def chain(tag: String, removedCase: String): String =
      (1 to MarkovIters).map { t =>
        s"""v$tag$t AS MATERIALIZED (SELECT st.s,
           |    CASE WHEN st.s = 'purchase' THEN 1.0
           |      WHEN st.s = '$NullState' THEN 0.0
           |      $removedCase
           |      ELSE COALESCE(agg.x, 0.0) END AS val
           |  FROM states st LEFT JOIN (
           |    SELECT t.src AS s,
           |        list_sum(list(t.p * v.val ORDER BY t.dst)) AS x
           |      FROM tp t JOIN v$tag${t - 1} v ON v.s = t.dst
           |      GROUP BY t.src) agg ON agg.s = st.s)""".stripMargin
      }.mkString(",\n")
    val channels = MarkovChannels
    val chains = (("f", "") +: channels.map(c =>
      (c.take(2) + c.length, s"WHEN st.s = '$c' THEN 0.0")))
      .map { case (tag, rc) =>
        s"""v${tag}0 AS (SELECT s,
           |    CASE WHEN s = 'purchase' THEN 1.0 ELSE 0.0 END AS val
           |  FROM states),
           |${chain(tag, rc)}""".stripMargin
      }.mkString(",\n")
    val results = channels.map { c =>
      val tag = c.take(2) + c.length
      s"""SELECT '$c' AS channel,
         |  (SELECT val FROM vf$MarkovIters
         |   WHERE s = '$StartState') AS p_full_raw,
         |  (SELECT val FROM v$tag$MarkovIters
         |   WHERE s = '$StartState') AS p_rem_raw""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH j AS (SELECT user_id, event_type, event_id,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
       |  FROM events),
       |fp AS (SELECT user_id, min(rn) AS prn FROM j
       |  WHERE event_type = 'purchase' GROUP BY 1),
       |jj AS (SELECT j.user_id, j.event_type, j.rn FROM j
       |  LEFT JOIN fp USING (user_id)
       |  WHERE fp.prn IS NULL OR j.rn <= fp.prn),
       |steps AS (SELECT user_id, event_type, rn,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY rn) AS nxt
       |  FROM jj),
       |tr AS (
       |  SELECT '$StartState' AS src, event_type AS dst FROM jj WHERE rn = 1
       |  UNION ALL
       |  SELECT event_type AS src, COALESCE(nxt, '$NullState') AS dst
       |  FROM steps WHERE event_type != 'purchase'),
       |cnt AS (SELECT src, dst, count(*) AS c FROM tr GROUP BY 1, 2),
       |rt AS (SELECT src, CAST(sum(c) AS BIGINT) AS tot FROM cnt
       |  GROUP BY 1),
       |tp AS MATERIALIZED (SELECT cnt.src, cnt.dst,
       |    CAST(cnt.c AS DOUBLE) / rt.tot AS p
       |  FROM cnt JOIN rt USING (src)),
       |states AS MATERIALIZED (SELECT DISTINCT src AS s FROM cnt
       |  UNION SELECT DISTINCT dst FROM cnt),
       |$chains,
       |res AS ($results),
       |eff AS (SELECT channel, p_full_raw,
       |    p_rem_raw / p_full_raw AS ratio_raw,
       |    1.0 - p_rem_raw / p_full_raw AS eff_raw
       |  FROM res),
       |tot AS (SELECT list_sum(list(eff_raw ORDER BY channel)) AS tot_eff
       |  FROM eff)
       |SELECT channel, round(p_full_raw, 6) AS p_conv,
       |  round(ratio_raw, 6) AS p_conv_ratio_removed,
       |  round(eff_raw, 6) AS removal_effect,
       |  CASE WHEN tot_eff > 0 THEN round(eff_raw / tot_eff, 6)
       |    ELSE 0.0 END AS credit_share
       |FROM eff CROSS JOIN tot ORDER BY channel""".stripMargin
  }

  /** §2.307 `gini_lorenz`: Gini coefficient + Lorenz-curve shares of
    * customer revenue per market segment — the inequality measure
    * that complements §2.163's HHI (HHI reads concentration off the
    * top squares; Gini integrates the whole Lorenz curve) and §2.236's
    * Pareto table (fixed top-k% cuts of the item side). Per segment:
    * G from the rank-sum identity G = 2·Σᵢ i·xᵢ/(n·Σx) − (n+1)/n,
    * the revenue share of the bottom half of customers, and of the
    * top decile.
    *
    * Scale shape: customer-grain revenue in ONE map-side-combined
    * groupBy; the segment decoration is a pinned shuffle_hash join
    * (data-proportional dim — the §6 round-5 broadcast trap); then
    * value-grain (segment, cents) cells with a per-segment cumulative
    * window (the §2.272 cumulative-weight-over-sorted-values pattern —
    * distributed per-segment sort of an already-collapsed frame, no
    * global sort, no collect). Σi·x never materializes ranks: a tied
    * value group's rank-sum is cnt·C_prev + cnt(cnt+1)/2 — exact, and
    * independent of tie order because tied x are equal.
    *
    * Determinism: cents/counts exact; rank-sums and i·x products
    * carried as DECIMAL(38,0) ≡ HUGEINT; Lorenz boundaries are INTEGER
    * floor-divisions (n div 2, 9n div 10) with straddling value
    * groups split exactly by integer rank arithmetic; the three
    * ratios are fixed-sequence divisions of identical integers. */
  def giniLorenz(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val rev = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
      .groupBy("o_custkey").agg(sum("c").as("cents"))
    val seg = rev.join(
      Tables.customer(spark, dir)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
        .hint("shuffle_hash"),
      "o_custkey")
    val cells = seg.groupBy("c_mktsegment", "cents")
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy("c_mktsegment").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("c_mktsegment")
    def d(c: Column) = c.cast("double")
    val marked = cells
      .withColumn("cc", sum("cnt").over(wCum))
      .withColumn("n", sum("cnt").over(wAll))
      .withColumn("sx", sum((col("cents").cast(dec) *
        col("cnt").cast(dec)).cast(dec)).over(wAll))
      .withColumn("cp", col("cc") - col("cnt"))
      .withColumn("ranksum", (col("cnt").cast(dec) * col("cp").cast(dec) +
        expr("CAST(cnt AS DECIMAL(38,0)) * (cnt + 1) div 2").cast(dec))
        .cast(dec))
      .withColumn("ix", (col("cents").cast(dec) * col("ranksum")).cast(dec))
      .withColumn("half", expr("n div 2"))
      .withColumn("r90", expr("(n * 9) div 10"))
      .withColumn("c50", (col("cents").cast(dec) *
        greatest(lit(0L), least(col("cc"), col("half")) - col("cp"))
          .cast(dec)).cast(dec))
      .withColumn("t10", (col("cents").cast(dec) *
        greatest(lit(0L), col("cc") - greatest(col("cp"), col("r90")))
          .cast(dec)).cast(dec))
    marked.groupBy("c_mktsegment", "n", "sx").agg(
      sum(col("ix").cast(dec)).as("six"),
      sum(col("c50").cast(dec)).as("s50"),
      sum(col("t10").cast(dec)).as("st10"))
      .select(col("c_mktsegment").as("segment"),
        col("n").as("n_customers"),
        col("sx").cast("long").as("revenue_cents"),
        round(lit(2.0) * d(col("six")) / (d(col("n")) * d(col("sx")))
          - d(col("n") + 1) / d(col("n")), 6).as("gini"),
        round(d(col("s50")) / d(col("sx")), 6).as("bottom50_share"),
        round(d(col("st10")) / d(col("sx")), 6).as("top10_share"))
      .orderBy("segment")
  }

  val giniLorenzSql: String =
    """WITH rev AS (SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |seg AS (SELECT c.c_mktsegment, r.cents
      |  FROM rev r JOIN customer c ON c.c_custkey = r.o_custkey),
      |cells AS (SELECT c_mktsegment, cents, count(*) AS cnt
      |  FROM seg GROUP BY 1, 2),
      |marked AS (SELECT c_mktsegment, cents, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY c_mktsegment ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cc,
      |    CAST(sum(cnt) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS n,
      |    sum(CAST(cents AS HUGEINT) * cnt)
      |      OVER (PARTITION BY c_mktsegment) AS sx
      |  FROM cells),
      |terms AS (SELECT c_mktsegment, n, sx,
      |    CAST(cents AS HUGEINT)
      |      * (CAST(cnt AS HUGEINT) * (cc - cnt)
      |         + CAST(cnt AS HUGEINT) * (cnt + 1) // 2) AS ix,
      |    CAST(cents AS HUGEINT)
      |      * greatest(0, least(cc, n // 2) - (cc - cnt)) AS c50,
      |    CAST(cents AS HUGEINT)
      |      * greatest(0, cc - greatest(cc - cnt, (n * 9) // 10)) AS t10
      |  FROM marked)
      |SELECT c_mktsegment AS segment, n AS n_customers,
      |  CAST(sx AS BIGINT) AS revenue_cents,
      |  round(2.0 * CAST(sum(ix) AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
      |    - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS gini,
      |  round(CAST(sum(c50) AS DOUBLE) / CAST(sx AS DOUBLE), 6)
      |    AS bottom50_share,
      |  round(CAST(sum(t10) AS DOUBLE) / CAST(sx AS DOUBLE), 6)
      |    AS top10_share
      |FROM terms GROUP BY c_mktsegment, n, sx
      |ORDER BY segment""".stripMargin

  /** §2.317 `tail_risk`: p95 VaR + CVaR (expected shortfall) of
    * customer revenue per market segment — §2.141's percentile family
    * answers "where is the tail boundary"; CVaR answers "how bad is it
    * INSIDE the tail", the coherent risk measure capacity/credit
    * planning actually uses (two segments can share a p95 and differ
    * 3× in tail mass). VaR = smallest revenue with cumulative count
    * covering 95% (percentile_disc convention); CVaR = mean of the
    * top-5%-by-rank values, straddling value groups split by exact
    * rank arithmetic (the §2.307 Lorenz trick pointed at the other
    * tail).
    *
    * Scale shape: the §2.307 machinery verbatim — customer-grain
    * groupBy, shuffle_hash-pinned segment join, per-segment cumulative
    * window over value-grain cells; no global sort, no collect.
    *
    * Determinism: all-integer rank cuts (100·C ≥ 95·n for VaR; tail
    * ranks > (95·n) div 100 for CVaR) over exact cents; tail sums
    * DECIMAL(38,0) ≡ HUGEINT; the CVaR/mean divisions single
    * fixed-sequence expressions. */
  def tailRisk(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val rev = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
      .groupBy("o_custkey").agg(sum("c").as("cents"))
    val seg = rev.join(
      Tables.customer(spark, dir)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
        .hint("shuffle_hash"),
      "o_custkey")
    val cells = seg.groupBy("c_mktsegment", "cents")
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy("c_mktsegment").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("c_mktsegment")
    def d(c: Column) = c.cast("double")
    val marked = cells
      .withColumn("cc", sum("cnt").over(wCum))
      .withColumn("n", sum("cnt").over(wAll))
      .withColumn("cp", col("cc") - col("cnt"))
      .withColumn("r0", expr("(n * 95) div 100"))
      .withColumn("tail_units",
        greatest(lit(0L), col("cc") - greatest(col("cp"), col("r0"))))
      .withColumn("tail_cents",
        (col("cents").cast(dec) * col("tail_units").cast(dec)).cast(dec))
    marked.groupBy("c_mktsegment", "n").agg(
      min(when(col("cc") * 100 >= col("n") * 95, col("cents")))
        .as("var_cents"),
      sum("tail_units").as("tail_n"),
      sum(col("tail_cents").cast(dec)).as("tail_sum"),
      sum((col("cents").cast(dec) * col("cnt").cast(dec)).cast(dec))
        .as("all_sum"))
      .select(col("c_mktsegment").as("segment"),
        col("n").as("n_customers"),
        round(d(col("var_cents")) / 100.0, 2).as("var95_dollars"),
        round(d(col("tail_sum")) / 100.0 / d(col("tail_n")), 4)
          .as("cvar95_dollars"),
        col("tail_n").cast("long").as("n_tail"),
        round(d(col("tail_sum")) / d(col("all_sum")), 6)
          .as("tail_revenue_share"))
      .orderBy("segment")
  }

  val tailRiskSql: String =
    """WITH rev AS (SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |seg AS (SELECT c.c_mktsegment, r.cents
      |  FROM rev r JOIN customer c ON c.c_custkey = r.o_custkey),
      |cells AS (SELECT c_mktsegment, cents, count(*) AS cnt
      |  FROM seg GROUP BY 1, 2),
      |marked AS (SELECT c_mktsegment, cents, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY c_mktsegment ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cc,
      |    CAST(sum(cnt) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS n
      |  FROM cells),
      |terms AS (SELECT c_mktsegment, cents, cnt, cc, n,
      |    greatest(0, cc - greatest(cc - cnt, (n * 95) // 100))
      |      AS tail_units
      |  FROM marked)
      |SELECT c_mktsegment AS segment, n AS n_customers,
      |  round(CAST(min(CASE WHEN cc * 100 >= n * 95 THEN cents END)
      |    AS DOUBLE) / 100.0, 2) AS var95_dollars,
      |  round(CAST(sum(CAST(cents AS HUGEINT) * tail_units) AS DOUBLE)
      |    / 100.0 / CAST(sum(tail_units) AS BIGINT), 4) AS cvar95_dollars,
      |  CAST(sum(tail_units) AS BIGINT) AS n_tail,
      |  round(CAST(sum(CAST(cents AS HUGEINT) * tail_units) AS DOUBLE)
      |    / CAST(sum(CAST(cents AS HUGEINT) * cnt) AS DOUBLE), 6)
      |    AS tail_revenue_share
      |FROM terms GROUP BY c_mktsegment, n
      |ORDER BY segment""".stripMargin
}
