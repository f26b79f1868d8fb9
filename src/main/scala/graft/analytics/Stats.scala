package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Distributed statistical inference — SURVEY.md §2 items 208–210.
  *
  * The experimentation layer every analytics engine eventually grows:
  * a parametric two-sample test (Welch), its rank-based twin
  * (Mann–Whitney, reusing §2.203's bounded-grid exact-rank trick), and
  * Poisson-bootstrap confidence intervals — the resampling method that
  * actually works on distributed data (classic bootstrap needs n draws
  * WITH replacement from the full dataset per replicate = B shuffles;
  * Poisson bootstrap approximates the multinomial with independent
  * per-row Poisson(1) weights, so ALL B replicates ride one scan).
  */
object Stats {

  /** §2.208 Welch's unequal-variance t-test: click-event `value` split
    * into an A/B assignment by `user_id % 2` (the deterministic hash
    * split an experiment platform would use). One map-side-combined
    * aggregate computes both arms' (n, mean, var) in a single pass;
    * the t statistic and Welch–Satterthwaite df are driver-free
    * arithmetic on the 2-row frame. */
  def abTestTtest(spark: SparkSession, dir: String): DataFrame = {
    val arms = Tables.events(spark, dir)
      .filter(col("event_type") === "click")
      .withColumn("arm", when(col("user_id") % 2 === 0, "A").otherwise("B"))
      .groupBy("arm").agg(
        count(lit(1)).as("n"),
        avg("value").as("m"),
        var_samp(col("value")).as("v"))
    val a = arms.filter(col("arm") === "A")
      .select(col("n").as("n_a"), col("m").as("m_a"), col("v").as("v_a"))
    val b = arms.filter(col("arm") === "B")
      .select(col("n").as("n_b"), col("m").as("m_b"), col("v").as("v_b"))
    val se2 = col("v_a") / col("n_a") + col("v_b") / col("n_b")
    a.crossJoin(b) // 1 row × 1 row
      .withColumn("t_stat", round((col("m_a") - col("m_b")) / sqrt(se2), 4))
      .withColumn("df", round(se2 * se2 /
        ((col("v_a") / col("n_a")) * (col("v_a") / col("n_a")) / (col("n_a") - 1) +
         (col("v_b") / col("n_b")) * (col("v_b") / col("n_b")) / (col("n_b") - 1)), 2))
      .withColumn("significant", abs(col("t_stat")) > 1.96)
      .select(col("n_a"), col("n_b"),
        round(col("m_a"), 4).as("mean_a"), round(col("m_b"), 4).as("mean_b"),
        round(col("v_a"), 4).as("var_a"), round(col("v_b"), 4).as("var_b"),
        col("t_stat"), col("df"), col("significant"))
  }

  val abTestTtestSql: String =
    """WITH arms AS (SELECT
      |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
      |    count(*) AS n, avg(value) AS m, var_samp(value) AS v
      |  FROM events WHERE event_type = 'click' GROUP BY 1),
      |a AS (SELECT n AS n_a, m AS m_a, v AS v_a FROM arms WHERE arm = 'A'),
      |b AS (SELECT n AS n_b, m AS m_b, v AS v_b FROM arms WHERE arm = 'B'),
      |x AS (SELECT n_a, n_b, m_a, m_b, v_a, v_b,
      |    v_a / n_a + v_b / n_b AS se2 FROM a CROSS JOIN b)
      |SELECT n_a, n_b, round(m_a, 4) AS mean_a, round(m_b, 4) AS mean_b,
      |  round(v_a, 4) AS var_a, round(v_b, 4) AS var_b,
      |  round((m_a - m_b) / sqrt(se2), 4) AS t_stat,
      |  round(se2 * se2 / ((v_a / n_a) * (v_a / n_a) / (n_a - 1)
      |    + (v_b / n_b) * (v_b / n_b) / (n_b - 1)), 2) AS df,
      |  abs(round((m_a - m_b) / sqrt(se2), 4)) > 1.96 AS significant
      |FROM x""".stripMargin

  /** §2.209 Mann–Whitney U (rank-sum) test: click vs view `value`,
    * the distribution-free twin of §2.208 for metrics where means
    * mislead (heavy tails, outliers). The §2.203 bounded-grid trick
    * again: `value` carries 2 decimals, so the distinct-value cells
    * are bounded by the value RANGE whatever the corpus size — ONE
    * map-side-combined groupBy to cells, rank arithmetic (ties →
    * average rank, carried as 2× rank sum) and the tie-corrected
    * variance both EXACT integers over the cell frame, one final
    * division for z. */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "view"))
      .groupBy(col("value").as("s")).agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("na"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("nb"))
    val w = Window.orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = cells
      .withColumn("cum",
        sum(col("na") + col("nb")).over(w) - (col("na") + col("nb")))
      .withColumn("rs2a",
        col("na") * (col("cum") * 2 + col("na") + col("nb") + 1))
      .withColumn("t3t", // tie-group term t^3 - t, exact integers
        (col("na") + col("nb")) * (col("na") + col("nb")) *
          (col("na") + col("nb")) - (col("na") + col("nb")))
    val agg = ranked.agg(
      sum("na").as("n_a"), sum("nb").as("n_b"),
      sum("rs2a").as("rs2a"), sum("t3t").as("t3t"))
    // U = R_a - n_a(n_a+1)/2; 2U is integer, so U is an exact half-integer
    agg.select(col("n_a"), col("n_b"),
      ((col("rs2a") - col("n_a") * (col("n_a") + 1)).cast("double") / 2.0)
        .as("u_stat"),
      round(try_divide((col("rs2a") - col("n_a") * (col("n_a") + 1)).cast("double") / 2.0
        - col("n_a").cast("double") * col("n_b").cast("double") / 2.0,
        sqrt(col("n_a").cast("double") * col("n_b").cast("double") / 12.0 *
          ((col("n_a") + col("n_b") + 1).cast("double") -
            try_divide(col("t3t").cast("double"),
              (col("n_a") + col("n_b")).cast("double") *
              (col("n_a") + col("n_b") - 1).cast("double"))))), 4).as("z_stat"))
  }

  val mannWhitneySql: String =
    """WITH cells AS (SELECT value AS s,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS nb
      |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1),
      |ranked AS (SELECT na, nb,
      |    CAST(sum(na + nb) OVER (ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      - (na + nb) AS BIGINT) AS cum
      |  FROM cells),
      |agg AS (SELECT CAST(sum(na) AS BIGINT) AS n_a,
      |    CAST(sum(nb) AS BIGINT) AS n_b,
      |    CAST(sum(na * (cum * 2 + na + nb + 1)) AS BIGINT) AS rs2a,
      |    CAST(sum((na + nb) * (na + nb) * (na + nb) - (na + nb)) AS BIGINT) AS t3t
      |  FROM ranked)
      |SELECT n_a, n_b,
      |  CAST(rs2a - n_a * (n_a + 1) AS DOUBLE) / 2.0 AS u_stat,
      |  round((CAST(rs2a - n_a * (n_a + 1) AS DOUBLE) / 2.0
      |      - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
      |    / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
      |        (CAST(n_a + n_b + 1 AS DOUBLE) - CAST(t3t AS DOUBLE)
      |          / (CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b - 1 AS DOUBLE)))),
      |    4) AS z_stat
      |FROM agg""".stripMargin

  /** Bootstrap replicates. 64 keeps the blowup one order of magnitude
    * while the rank-2 / rank-63 order statistics land at the 2.5/97.5
    * percentiles (±1/128). */
  val BootstrapReps = 64

  /** Poisson(1) CDF thresholds, shared literals in both engines:
    * weight w = #{thresholds below u}, u uniform in [0,1) from the
    * 60-bit row hash. P(w=k) = e⁻¹/k!; capped at 8 (tail ≈ 1e-5). */
  private[graft] val PoissonCdf: IndexedSeq[Double] = {
    val terms = (0 to 7).scanLeft(math.exp(-1.0)) { (acc, k) =>
      acc / (k + 1.0) }.take(8)
    terms.scanLeft(0.0)(_ + _).tail.map(v => math.rint(v * 1e9) / 1e9)
  }

  /** §2.210 Poisson-bootstrap 95% CI for the mean click value: each of
    * [[BootstrapReps]] replicates weighs every row by an independent
    * Poisson(1) draw — deterministic from hash(event_id:rep), so both
    * engines draw the SAME bootstrap — and all replicates ride ONE
    * scan (the replicate axis explodes a constant-size sequence, then
    * one map-side-combined groupBy(rep); the classic resample-n-rows
    * bootstrap would be B full shuffles of corpus-sized samples).
    * Each row is md5-hashed ONCE; the B per-replicate uniforms come
    * from the §5 affine hash family over that one hash (the minhash
    * signature trick — B multiplies instead of B digests; measured
    * 7.19 → 1.13 s at sf1 against the hash-per-(row,rep) form).
    * Replicate means round at 6 dp before the order statistics, so
    * rank selection is grid-stable; ci bounds are the rank-2 and
    * rank-63 replicate means (ties broken by rep id). */
  def bootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextFunctions.hash64
    import graft.functions.HashConstants.{P => HP}
    val B = BootstrapReps
    val base = Tables.events(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("value"))
    val thresholds = PoissonCdf.map(lit)
    val reps = base
      .withColumn("h", hash64(col("event_id").cast("string")) % lit(HP))
      .select(col("h"), col("value"),
        explode(expr(s"sequence(0, ${B - 1})")).as("rep"))
      .withColumn("u",
        (((lit(1103515245L) + lit(997L) * col("rep")) * col("h") +
          lit(12345L) + lit(7919L) * col("rep")) % lit(HP)).cast("double") /
          lit(HP.toDouble))
      .withColumn("w", thresholds.map(t => when(col("u") >= t, 1).otherwise(0))
        .reduce(_ + _).cast("long"))
      .groupBy("rep").agg(
        // all-zero Poisson weights (possible on a tiny corpus): NULL
        // rep mean on both engines, never an ANSI divide-by-zero
        round(when(sum("w") > 0, sum(col("w") * col("value")) / sum("w")), 6)
          .as("rep_mean"))
    // NULLS LAST explicitly: DuckDB's ASC default — Spark's is first
    val ranked = reps.withColumn("rk",
      row_number().over(Window.orderBy(col("rep_mean").asc_nulls_last, col("rep"))))
    val full = base.agg(
      count(lit(1)).as("n_rows"), round(avg("value"), 6).as("mean_full"))
    full.crossJoin(
        ranked.filter(col("rk") === 2).select(col("rep_mean").as("ci_lo")))
      .crossJoin(
        ranked.filter(col("rk") === B - 1).select(col("rep_mean").as("ci_hi")))
      .select(col("n_rows"), col("mean_full"), col("ci_lo"), col("ci_hi"),
        lit(B.toLong).as("n_reps"))
  }

  val bootstrapCiSql: String = {
    import graft.text.TextFunctions.hash64Sql
    val B = BootstrapReps
    val caseW = PoissonCdf.map(t => s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val hp = graft.functions.HashConstants.P
    s"""WITH base AS (SELECT event_id, value FROM events
       |  WHERE event_type = 'click'),
       |hashed AS (SELECT value,
       |    ${hash64Sql("CAST(event_id AS VARCHAR)")} % $hp AS h
       |  FROM base),
       |reps AS (SELECT b.value, g.rep,
       |    CAST(((1103515245 + 997 * g.rep) * b.h + 12345 + 7919 * g.rep)
       |      % $hp AS DOUBLE) / $hp.0 AS u
       |  FROM hashed b CROSS JOIN
       |    (SELECT unnest(generate_series(0, ${B - 1})) AS rep) g),
       |wtd AS (SELECT rep, value, $caseW AS w FROM reps),
       |rm AS (SELECT rep, round(CASE WHEN sum(w) > 0
       |    THEN sum(w * value) / sum(w) END, 6) AS rep_mean
       |  FROM wtd GROUP BY 1),
       |rk AS (SELECT rep_mean,
       |    row_number() OVER (ORDER BY rep_mean NULLS LAST, rep) AS rk FROM rm),
       |f AS (SELECT count(*) AS n_rows, round(avg(value), 6) AS mean_full
       |  FROM base)
       |SELECT f.n_rows, f.mean_full,
       |  lo.rep_mean AS ci_lo, hi.rep_mean AS ci_hi,
       |  CAST($B AS BIGINT) AS n_reps
       |FROM f
       |CROSS JOIN (SELECT rep_mean FROM rk WHERE rk = 2) lo
       |CROSS JOIN (SELECT rep_mean FROM rk WHERE rk = ${B - 1}) hi""".stripMargin
  }

  /** Conversion window for §2.215: a purchase counts as converted only
    * within this many days of the user's FIRST signup (an unbounded
    * "ever purchased" definition saturates to 100% on any active user
    * base and the pooled-variance z degenerates to 0/0). */
  val ConvWindowDays = 3

  /** §2.215 two-proportion z-test on funnel conversion
    * (`funnel_significance`): signup→purchase-within-[[ConvWindowDays]]
    * conversion per §2.208's user_id%2 arms — the categorical sibling
    * of the t-test (rates, not means; the metric most experiments
    * actually ship on). One user-grain aggregate for first-signup, one
    * user-co-partitioned semi join marks converters, pooled-variance z
    * from the four integers on a 2-row frame. */
  def funnelSignificance(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("s_ts"))
    val conv = su.join(
      ev.filter(col("event_type") === "purchase").select(
        col("user_id"), col("ts").as("p_ts")),
      Seq("user_id"))
      .filter(col("p_ts") > col("s_ts") &&
        col("p_ts") <= col("s_ts") + expr(s"INTERVAL $ConvWindowDays DAYS"))
      .select("user_id").distinct()
      .withColumn("conv", lit(1L))
    val users = su.join(conv, Seq("user_id"), "left")
      .na.fill(0L, Seq("conv"))
      .withColumn("arm", when(col("user_id") % 2 === 0, "A").otherwise("B"))
    val arms = users.groupBy("arm").agg(
      count(lit(1)).as("n"), sum("conv").as("k"))
    val a = arms.filter(col("arm") === "A")
      .select(col("n").as("n_a"), col("k").as("k_a"))
    val b = arms.filter(col("arm") === "B")
      .select(col("n").as("n_b"), col("k").as("k_b"))
    val pa = col("k_a").cast("double") / col("n_a")
    val pb = col("k_b").cast("double") / col("n_b")
    val pPool = (col("k_a") + col("k_b")).cast("double") /
      (col("n_a") + col("n_b"))
    a.crossJoin(b)
      .withColumn("z_stat", round((pa - pb) /
        sqrt(pPool * (lit(1.0) - pPool) *
          (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 4))
      .select(col("n_a"), col("k_a"), col("n_b"), col("k_b"),
        round(pa, 4).as("rate_a"), round(pb, 4).as("rate_b"),
        col("z_stat"), (abs(col("z_stat")) > 1.96).as("significant"))
  }

  val funnelSignificanceSql: String =
    s"""WITH su AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS s_ts
      |  FROM events WHERE event_type = 'signup' GROUP BY 1),
      |cv AS (SELECT DISTINCT su.user_id FROM su
      |  JOIN events p ON p.user_id = su.user_id
      |    AND p.event_type = 'purchase'
      |    AND CAST(p.ts AS TIMESTAMP) > su.s_ts
      |    AND CAST(p.ts AS TIMESTAMP) <= su.s_ts + INTERVAL $ConvWindowDays DAY),
      |users AS (SELECT su.user_id,
      |    CASE WHEN cv.user_id IS NOT NULL THEN 1 ELSE 0 END AS conv
      |  FROM su LEFT JOIN cv USING (user_id)),
      |arms AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
      |    count(*) AS n, CAST(sum(conv) AS BIGINT) AS k
      |  FROM users GROUP BY 1),
      |a AS (SELECT n AS n_a, k AS k_a FROM arms WHERE arm = 'A'),
      |b AS (SELECT n AS n_b, k AS k_b FROM arms WHERE arm = 'B'),
      |x AS (SELECT n_a, k_a, n_b, k_b,
      |    CAST(k_a AS DOUBLE) / n_a AS pa, CAST(k_b AS DOUBLE) / n_b AS pb,
      |    CAST(k_a + k_b AS DOUBLE) / (n_a + n_b) AS pp
      |  FROM a CROSS JOIN b)
      |SELECT n_a, k_a, n_b, k_b,
      |  round(pa, 4) AS rate_a, round(pb, 4) AS rate_b,
      |  round((pa - pb) / sqrt(pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b)), 4)
      |    AS z_stat,
      |  abs(round((pa - pb) / sqrt(pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b)), 4))
      |    > 1.96 AS significant
      |FROM x""".stripMargin

  /** Two-sided standard-normal critical values z(α·i/m ÷ 2) for the
    * §2.228 Benjamini–Hochberg step-up at α = 0.05 over m = 5
    * hypotheses (i = 1..5 → p = 0.01..0.05): the textbook quantiles
    * Φ⁻¹(1 − p/2), inlined as the SAME literals in both engines (the
    * §2.205 IdcgCum convention — no engine-side inverse CDF). */
  val BhCritZ: IndexedSeq[Double] =
    IndexedSeq(2.5758, 2.3263, 2.1701, 2.0537, 1.96)

  /** §2.228 `ab_test_multi`: the §2.208 Welch test run per EVENT TYPE
    * (5 hypotheses on one experiment) with Benjamini–Hochberg FDR
    * correction — the multiple-testing discipline a metrics platform
    * needs (5 uncorrected tests at α=0.05 false-alarm ~23% of the
    * time under the global null). BH step-up: rank |z| descending,
    * reject hypotheses 1..i* where i* is the largest rank whose |z|
    * clears its [[BhCritZ]] rung.
    *
    * Scale shape: ONE map-side-combined groupBy collapses the corpus
    * to (type, arm) cells carrying exact integer moments (n, Σcents,
    * Σcents² as DECIMAL(38,0)/HUGEINT — the §2.223 overflow-proof
    * sums); the Welch arithmetic, ranking, and step-up are windows
    * over the ≤5-row frame. Mean/variance derive from identical
    * integers in a fixed sequence; z rounds at 4 dp BEFORE ranking so
    * the rank order is grid-stable cross-engine. */
  def abTestMulti(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = Tables.events(spark, dir)
      .select(col("event_type"),
        when(col("user_id") % 2 === 0, "A").otherwise("B").as("arm"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy("event_type", "arm").agg(
        count(lit(1)).as("n"), sum("cents").as("s"),
        sum((col("cents").cast(dec) * col("cents").cast(dec)).cast(dec))
          .as("s2"))
    def d(c: Column) = c.cast("double")
    def side(a: String) = cells.filter(col("arm") === a)
      .select(col("event_type"), col("n").as(s"n_$a"),
        (d(col("s")) / 100.0 / col("n")).as(s"m_$a"),
        (((d(col("s2")) - d(col("s")) * d(col("s")) / col("n")) /
          (col("n") - 1)) / 10000.0).as(s"v_$a"))
    val z = side("A").join(side("B"), "event_type")
      .withColumn("z_stat", round((col("m_A") - col("m_B")) /
        sqrt(col("v_A") / col("n_A") + col("v_B") / col("n_B")), 4))
    val w = Window.orderBy(abs(col("z_stat")).desc, col("event_type"))
    // The BhCritZ grid is exact for m = BhCritZ.size hypotheses only;
    // the rk inner join would silently DROP hypotheses ranked past the
    // grid (and m<grid leaves the step-up too conservative). Assert the
    // observed count instead of letting the join hide a mismatch —
    // threaded through z_stat so column pruning can't elide it.
    val wAll = Window.partitionBy(lit(1))
    val zChecked = z
      .withColumn("z_stat", when(
        assert_true(count(lit(1)).over(wAll) === lit(BhCritZ.size),
          lit(s"ab_test_multi: hypothesis count != ${BhCritZ.size} - " +
            "regenerate BhCritZ literals for the new m on both engines"))
          .isNull,
        col("z_stat")))
    val crit = BhCritZ.zipWithIndex
      .map { case (c, i) => s"(${i + 1}, CAST($c AS DOUBLE))" }
      .mkString(",")
    val critDf = spark.sql(s"SELECT * FROM VALUES $crit AS t(rk, crit_z)")
    val ranked = zChecked.withColumn("rk", row_number().over(w))
      .join(broadcast(critDf), Seq("rk"))
      .withColumn("pass", abs(col("z_stat")) >= col("crit_z"))
    val istar = Window.partitionBy(lit(1))
    ranked
      .withColumn("i_star", max(when(col("pass"), col("rk"))).over(istar))
      .select(col("event_type"), col("n_A").as("n_a"), col("n_B").as("n_b"),
        round(col("m_A"), 4).as("mean_a"), round(col("m_B"), 4).as("mean_b"),
        col("z_stat"), col("rk").as("z_rank"), col("crit_z"),
        (abs(col("z_stat")) > 1.96).as("sig_raw"),
        coalesce(col("rk") <= col("i_star"), lit(false)).as("sig_bh"))
      .orderBy("z_rank")
  }

  val abTestMultiSql: String = {
    val crit = BhCritZ.zipWithIndex
      .map { case (c, i) => s"(${i + 1}, CAST($c AS DOUBLE))" }
      .mkString(", ")
    s"""WITH cells AS (SELECT event_type,
       |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
       |    count(*) AS n,
       |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
       |    sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
       |      * CAST(round(value * 100) AS BIGINT)) AS s2
       |  FROM events GROUP BY 1, 2),
       |sides AS (SELECT a.event_type,
       |    a.n AS n_a, b.n AS n_b,
       |    CAST(a.s AS DOUBLE) / 100.0 / a.n AS m_a,
       |    CAST(b.s AS DOUBLE) / 100.0 / b.n AS m_b,
       |    ((CAST(a.s2 AS DOUBLE) - CAST(a.s AS DOUBLE) * CAST(a.s AS DOUBLE) / a.n)
       |      / (a.n - 1)) / 10000.0 AS v_a,
       |    ((CAST(b.s2 AS DOUBLE) - CAST(b.s AS DOUBLE) * CAST(b.s AS DOUBLE) / b.n)
       |      / (b.n - 1)) / 10000.0 AS v_b
       |  FROM cells a JOIN cells b ON a.event_type = b.event_type
       |  WHERE a.arm = 'A' AND b.arm = 'B'),
       |z AS (SELECT event_type, n_a, n_b, m_a, m_b,
       |    round((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 4) AS z_stat
       |  FROM sides),
       |rk AS (SELECT z.*,
       |    row_number() OVER (ORDER BY abs(z_stat) DESC, event_type) AS z_rank
       |  FROM z),
       |joined AS (SELECT rk.*, c.crit_z,
       |    abs(rk.z_stat) >= c.crit_z AS pass
       |  FROM rk JOIN (VALUES $crit) c(rk2, crit_z) ON c.rk2 = rk.z_rank),
       |flagged AS (SELECT joined.*,
       |    max(CASE WHEN pass THEN z_rank END) OVER () AS i_star
       |  FROM joined)
       |SELECT event_type, n_a, n_b,
       |  round(m_a, 4) AS mean_a, round(m_b, 4) AS mean_b,
       |  z_stat, z_rank, crit_z,
       |  abs(z_stat) > 1.96 AS sig_raw,
       |  COALESCE(z_rank <= i_star, FALSE) AS sig_bh
       |FROM flagged ORDER BY z_rank""".stripMargin
  }

  /** §2.253 `theil_sen`: robust Theil–Sen trend of each event type's
    * daily volume — slope = median over all C(n,2) pairwise slopes
    * (y_j−y_i)/(j−i), intercept = median of y_i − slope·t_i. Immune
    * to the outlier days that drag §2.65's OLS around (breakdown
    * point 29%); the robust companion the anomaly family (§2.126/238)
    * wants under its thresholds.
    *
    * Scale shape: the pair join is CALENDAR² per type (≤ 10⁵ rows a
    * year — bounded by time, not data; the §2.73 argument), built
    * AFTER the one corpus groupBy to day grain.
    *
    * Determinism: each pairwise slope is ONE division of exact
    * integers — identical doubles on both engines — and the medians
    * interpolate over those identical values (§2.141 convention). */
  def theilSen(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val t0 = daily.groupBy("event_type").agg(min("day").as("d0"))
    val pts = daily.join(broadcast(t0), Seq("event_type"))
      .select(col("event_type"),
        datediff(col("day"), col("d0")).cast("long").as("t"), col("n"))
    val slopes = pts.as("a")
      .join(pts.as("b"), Seq("event_type"))
      .filter(col("a.t") < col("b.t"))
      .select(col("event_type"),
        ((col("b.n") - col("a.n")).cast("double") /
          (col("b.t") - col("a.t")).cast("double")).as("s"))
    val m = slopes.groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        expr("percentile(s, 0.5)").as("slope"))
    pts.join(broadcast(m), Seq("event_type"))
      .select(col("event_type"), col("n_pairs"), col("slope"),
        (col("n").cast("double") - col("slope") * col("t").cast("double"))
          .as("r"))
      .groupBy("event_type")
      .agg(max("n_pairs").as("n_pairs"),
        round(max("slope"), 6).as("slope"),
        round(expr("percentile(r, 0.5)"), 4).as("intercept"))
      .orderBy("event_type")
  }

  val theilSenSql: String =
    """WITH daily AS (SELECT event_type,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |pts AS (SELECT d.event_type,
      |    CAST(d.day - t0.d0 AS BIGINT) AS t, d.n
      |  FROM daily d JOIN (SELECT event_type, min(day) AS d0
      |    FROM daily GROUP BY 1) t0 USING (event_type)),
      |slopes AS (SELECT a.event_type,
      |    CAST(b.n - a.n AS DOUBLE) / CAST(b.t - a.t AS DOUBLE) AS s
      |  FROM pts a JOIN pts b
      |    ON a.event_type = b.event_type AND a.t < b.t),
      |m AS (SELECT event_type, count(*) AS n_pairs,
      |    quantile_cont(s, 0.5) AS slope
      |  FROM slopes GROUP BY 1)
      |SELECT p.event_type, max(m.n_pairs) AS n_pairs,
      |  round(max(m.slope), 6) AS slope,
      |  round(quantile_cont(CAST(p.n AS DOUBLE)
      |    - m.slope * CAST(p.t AS DOUBLE), 0.5), 4) AS intercept
      |FROM pts p JOIN m USING (event_type)
      |GROUP BY p.event_type
      |ORDER BY p.event_type""".stripMargin

  /** §2.254 `did_estimate`: difference-in-differences on the
    * purchase SHARE of funnel events (purchases/(clicks+purchases) —
    * a true proportion; raw purchases-per-click can exceed 1 since
    * the streams are independent) — arms split by the §2.170 hash
    * rule (user_id parity), periods split at the calendar midpoint;
    * DiD = (r_A,post − r_A,pre) − (r_B,post − r_B,pre) with the
    * four-cell binomial SE √Σ rᵢ(1−rᵢ)/nᵢ and its z. The
    * two-period×two-group causal frame the plain A/B ops (§2.170/228)
    * can't express — parallel-trends bias shows up HERE.
    *
    * Scale shape: ONE conditional aggregate collapses the corpus to
    * the 4 (arm, period) cells (the midpoint is a 1-row broadcast);
    * everything after is a fixed expression on one row.
    *
    * Determinism: all cell counts exact integers; rates, DiD, SE and
    * z are fixed-sequence floats of identical integers. */
  def didEstimate(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
    val mid = ev.agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("d0"),
        // floor EXPLICITLY: plain int cast truncates here while the
        // DuckDB oracle's CAST rounds-to-nearest — on an odd calendar
        // span they'd split pre/post one day apart (// on the oracle
        // side floors to match)
        floor(datediff(col("d1"), col("d0")) / 2).cast("int").as("half"))
    val cells = ev.crossJoin(broadcast(mid))
      .select(
        when(col("user_id") % 2 === 0, "A").otherwise("B").as("arm"),
        when(datediff(col("day"), col("d0")) < col("half"), "pre")
          .otherwise("post").as("period"),
        col("event_type"))
      .groupBy("arm", "period")
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("clicks"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("purchases"))
    def cell(a: String, p: String, c: String) =
      max(when(col("arm") === a && col("period") === p, col(c)))
    val withN = cells.withColumn("n_cell", col("clicks") + col("purchases"))
    val one = withN.agg(
      cell("A", "pre", "n_cell").as("ca0"), cell("A", "pre", "purchases").as("pa0"),
      cell("A", "post", "n_cell").as("ca1"), cell("A", "post", "purchases").as("pa1"),
      cell("B", "pre", "n_cell").as("cb0"), cell("B", "pre", "purchases").as("pb0"),
      cell("B", "post", "n_cell").as("cb1"), cell("B", "post", "purchases").as("pb1"))
    def r(p: String, c: String) = col(p).cast("double") / col(c)
    val did = (r("pa1", "ca1") - r("pa0", "ca0")) -
      (r("pb1", "cb1") - r("pb0", "cb0"))
    def v(p: String, c: String) =
      r(p, c) * (lit(1.0) - r(p, c)) / col(c).cast("double")
    val se = sqrt(v("pa0", "ca0") + v("pa1", "ca1") +
      v("pb0", "cb0") + v("pb1", "cb1"))
    one.select(
      round(r("pa0", "ca0"), 6).as("rate_a_pre"),
      round(r("pa1", "ca1"), 6).as("rate_a_post"),
      round(r("pb0", "cb0"), 6).as("rate_b_pre"),
      round(r("pb1", "cb1"), 6).as("rate_b_post"),
      round(did, 6).as("did"),
      round(se, 6).as("se"),
      round(did / se, 4).as("z"),
      (abs(did / se) > 1.96).as("significant"))
  }

  val didEstimateSql: String = {
    def r(p: String, c: String) = s"(CAST($p AS DOUBLE) / $c)"
    val did = s"(${r("pa1", "ca1")} - ${r("pa0", "ca0")})" +
      s" - (${r("pb1", "cb1")} - ${r("pb0", "cb0")})"
    def v(p: String, c: String) =
      s"${r(p, c)} * (1.0 - ${r(p, c)}) / CAST($c AS DOUBLE)"
    val se = s"sqrt(${v("pa0", "ca0")} + ${v("pa1", "ca1")}" +
      s" + ${v("pb0", "cb0")} + ${v("pb1", "cb1")})"
    s"""WITH ev AS (SELECT user_id, event_type,
       |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
       |  FROM events WHERE event_type IN ('click', 'purchase')),
       |mid AS (SELECT min(day) AS d0,
       |    CAST((max(day) - min(day)) // 2 AS INTEGER) AS half FROM ev),
       |cells AS (SELECT
       |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
       |    CASE WHEN (day - d0) < half THEN 'pre' ELSE 'post' END AS period,
       |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS clicks,
       |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS purchases
       |  FROM ev CROSS JOIN mid GROUP BY 1, 2),
       |one AS (SELECT
       |    max(CASE WHEN arm = 'A' AND period = 'pre' THEN clicks + purchases END) AS ca0,
       |    max(CASE WHEN arm = 'A' AND period = 'pre' THEN purchases END) AS pa0,
       |    max(CASE WHEN arm = 'A' AND period = 'post' THEN clicks + purchases END) AS ca1,
       |    max(CASE WHEN arm = 'A' AND period = 'post' THEN purchases END) AS pa1,
       |    max(CASE WHEN arm = 'B' AND period = 'pre' THEN clicks + purchases END) AS cb0,
       |    max(CASE WHEN arm = 'B' AND period = 'pre' THEN purchases END) AS pb0,
       |    max(CASE WHEN arm = 'B' AND period = 'post' THEN clicks + purchases END) AS cb1,
       |    max(CASE WHEN arm = 'B' AND period = 'post' THEN purchases END) AS pb1
       |  FROM cells)
       |SELECT
       |  round(${r("pa0", "ca0")}, 6) AS rate_a_pre,
       |  round(${r("pa1", "ca1")}, 6) AS rate_a_post,
       |  round(${r("pb0", "cb0")}, 6) AS rate_b_pre,
       |  round(${r("pb1", "cb1")}, 6) AS rate_b_post,
       |  round($did, 6) AS did,
       |  round($se, 6) AS se,
       |  round(($did) / ($se), 4) AS z,
       |  abs(($did) / ($se)) > 1.96 AS significant
       |FROM one""".stripMargin
  }

  /** §2.255 `revenue_deciles`: the Lorenz table — customers ranked by
    * lifetime order revenue, split into deciles (ties broken by
    * custkey so NTILE is deterministic), each decile reporting its
    * exact integer-cents revenue, share, and cumulative share. The
    * concentration curve behind "top 10% of customers = X% of
    * revenue" (§2.206's Pareto summary, here as the full curve).
    *
    * Scale shape: orders fold to the customer grain once
    * (map-side-combined, integer cents — §2.203); the NTILE and the
    * running sum are one customer-sized sort; output is 10 rows.
    *
    * Determinism: cents are exact BIGINTs end-to-end; shares are
    * single divisions of identical integers. */
  def revenueDeciles(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
        .as("cents"))
    val w = Window.orderBy(col("cents"), col("o_custkey"))
    val dec = perCust
      .withColumn("decile", ntile(10).over(w))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum("cents").as("rev_cents"))
    val wc = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dec
      .withColumn("cum_cents", sum("rev_cents").over(wc))
      .crossJoin(broadcast(dec.agg(sum("rev_cents").as("total_cents"))))
      .select(col("decile").cast("long").as("decile"), col("n_customers"),
        col("rev_cents"),
        round(col("rev_cents").cast("double") / col("total_cents"), 6)
          .as("share"),
        round(col("cum_cents").cast("double") / col("total_cents"), 6)
          .as("cum_share"))
      .orderBy("decile")
  }

  val revenueDecilesSql: String =
    """WITH pc AS (SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |d AS (SELECT cents,
      |    ntile(10) OVER (ORDER BY cents, o_custkey) AS decile
      |  FROM pc),
      |dec AS (SELECT decile, count(*) AS n_customers,
      |    CAST(sum(cents) AS BIGINT) AS rev_cents
      |  FROM d GROUP BY 1),
      |cum AS (SELECT *, CAST(sum(rev_cents) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_cents,
      |    CAST(sum(rev_cents) OVER () AS BIGINT) AS total_cents
      |  FROM dec)
      |SELECT CAST(decile AS BIGINT) AS decile, n_customers, rev_cents,
      |  round(CAST(rev_cents AS DOUBLE) / total_cents, 6) AS share,
      |  round(CAST(cum_cents AS DOUBLE) / total_cents, 6) AS cum_share
      |FROM cum ORDER BY decile""".stripMargin

  /** §2.288 `cuped_adjust`: CUPED variance reduction (Deng et al.
    * WSDM'13) on the experiment the §2.208/228 tests analyze raw —
    * each user's POST-period spend adjusted by their own PRE-period
    * spend, the covariate an experiment platform always has and the
    * single highest-leverage sensitivity win at 100 TB scale (same
    * traffic, tighter CI): Ŷᵢ = Yᵢ − θ(Xᵢ − X̄) with θ = cov(X,Y)/var(X)
    * POOLED across arms (arm-blind, so the adjustment cannot inject
    * bias), periods split at the §2.254 floored calendar midpoint and
    * arms by the §2.170 parity rule.
    *
    * Scale shape: one user-grain aggregate (the only corpus shuffle)
    * → per-user (arm, x_cents, y_cents) → ONE map-side-combined pass
    * computes the pooled moments AND both arm subtotals; everything
    * after is fixed arithmetic on a 1-row frame.
    *
    * Determinism: x/y are exact integer cents, the cross moments
    * Σxy/Σx²/Σy² exact DECIMAL(38,0)/HUGEINT (the §2.228 convention);
    * θ, r², and the adjusted means are fixed-sequence float
    * expressions over those identical integers, with the zero-variance
    * degenerate gated by an INTEGER comparison (the §2.247 pattern).
    * var_reduction = r²(X,Y): the CUPED identity var(Ŷ) = var(Y)(1−r²). */
  def cupedAdjust(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val mid = ev.agg(min("day").as("d0"),
      floor(datediff(max("day"), min("day")) / 2).cast("int").as("half"))
    val users = ev.crossJoin(broadcast(mid))
      .groupBy("user_id").agg(
        sum(when(datediff(col("day"), col("d0")) < col("half"),
          col("cents")).otherwise(0L)).as("x"),
        sum(when(datediff(col("day"), col("d0")) >= col("half"),
          col("cents")).otherwise(0L)).as("y"))
      .withColumn("arm", when(col("user_id") % 2 === 0, "A").otherwise("B"))
    val one = users.agg(
      count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
      sum((col("x").cast(dec) * col("x").cast(dec)).cast(dec)).as("sxx"),
      sum((col("x").cast(dec) * col("y").cast(dec)).cast(dec)).as("sxy"),
      sum((col("y").cast(dec) * col("y").cast(dec)).cast(dec)).as("syy"),
      sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === "A", col("x")).otherwise(0L)).as("sx_a"),
      sum(when(col("arm") === "A", col("y")).otherwise(0L)).as("sy_a"),
      sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === "B", col("x")).otherwise(0L)).as("sx_b"),
      sum(when(col("arm") === "B", col("y")).otherwise(0L)).as("sy_b"))
    def d(c: String) = col(c).cast("double")
    // centered moments ×n (exact-integer numerators kept as one
    // double expression each; both engines evaluate the same sequence)
    val cxy = d("sxy") - d("sx") * d("sy") / col("n")
    val cxx = d("sxx") - d("sx") * d("sx") / col("n")
    val cyy = d("syy") - d("sy") * d("sy") / col("n")
    // integer-exact degenerate gate: var(X) == 0 iff n·Σx² == (Σx)²
    val degen = (col("sxx").cast(dec) * col("n").cast(dec)) ===
      (col("sx").cast(dec) * col("sx").cast(dec))
    val theta = when(degen, lit(0.0)).otherwise(cxy / cxx)
    val r2 = when(degen, lit(0.0)).otherwise(cxy * cxy / (cxx * cyy))
    // empty-arm guard (ANSI Spark errors on /0 where DuckDB yields
    // NULL): integer-gate every per-arm division, NULL propagates to
    // the diffs on both engines (the strataAdjust pattern)
    def meanD(s: String, nn: String) =
      when(col(nn) > 0, d(s) / 100.0 / col(nn))
    val adjA = when(col("n_a") > 0, (d("sy_a") / col("n_a") -
      theta * (d("sx_a") / col("n_a") - d("sx") / col("n"))) / 100.0)
    val adjB = when(col("n_b") > 0, (d("sy_b") / col("n_b") -
      theta * (d("sx_b") / col("n_b") - d("sx") / col("n"))) / 100.0)
    one.select(
      col("n_a"), col("n_b"),
      round(meanD("sy_a", "n_a"), 6).as("mean_a"),
      round(meanD("sy_b", "n_b"), 6).as("mean_b"),
      round(theta, 6).as("theta"),
      round(r2, 6).as("var_reduction"),
      round(adjA, 6).as("adj_mean_a"),
      round(adjB, 6).as("adj_mean_b"),
      round(meanD("sy_a", "n_a") - meanD("sy_b", "n_b"), 6).as("diff_raw"),
      round(adjA - adjB, 6).as("diff_adj"))
  }

  /** Relative minimum-detectable-effect grid for [[powerAnalysis]]:
    * the MDEs a metrics platform quotes (1/2/5/10% of the baseline). */
  val MdePcts: Seq[Int] = Seq(1, 2, 5, 10)

  /** §2.298 `power_analysis`: the sample-size table next to every
    * §2.208/228/296 test — for each relative MDE in [[MdePcts]], the
    * per-arm n that gives 80% power at two-sided α=0.05 for the click
    * value metric: n = 2(z_{.975}+z_{.8})²σ²/δ², with the z's inlined
    * as shared literals (1.96, 0.8416 — the §2.228 convention) and σ²
    * the pooled variance from exact integer moments. The "how long
    * must this experiment run" answer, derived from the data it will
    * run on.
    *
    * Scale shape: ONE map-side-combined pass collapses the corpus to
    * a 1-row moment frame; the grid crossJoin is 1×|MdePcts| rows.
    *
    * Determinism: moments exact cents/DECIMAL(38,0); σ², δ, and the
    * ceil'd n are fixed-sequence expressions of those integers and
    * shared literals (ceil of the identical product double). */
  def powerAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val m = Tables.events(spark, dir)
      .filter(col("event_type") === "click")
      .select(
        when(col("user_id") % 2 === 0, 0L).otherwise(1L).as("arm"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .agg(count(lit(1)).as("n"), sum("cents").as("s"),
        sum((col("cents").cast(dec) * col("cents").cast(dec)).cast(dec))
          .as("s2"),
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"))
    val grid = spark.sql("SELECT * FROM VALUES " +
      MdePcts.map(p => s"(CAST($p AS BIGINT))").mkString(",") +
      " AS t(mde_pct)")
    def d(c: String) = col(c).cast("double")
    val mean = d("s") / col("n")                       // cents
    val variance = try_divide(d("s2") - d("s") * d("s") / col("n"), col("n") - 1)
    val delta = mean * col("mde_pct") / 100.0          // cents
    val nArm = ceil(lit(2.0) * (lit(1.96) + lit(0.8416)) *
      (lit(1.96) + lit(0.8416)) * variance / (delta * delta)).cast("long")
    m.crossJoin(grid)
      .select(col("mde_pct"),
        round(delta / 100.0, 6).as("delta_dollars"),
        round(variance / 10000.0, 6).as("variance_dollars"),
        nArm.as("n_per_arm"),
        (nArm * 2).as("n_total"),
        (least(col("n_a"), col("n_b")) >= nArm).as("powered_now"))
      .orderBy("mde_pct")
  }

  val powerAnalysisSql: String = {
    val grid = MdePcts.map(p => s"(CAST($p AS BIGINT))").mkString(", ")
    val mean = "(CAST(s AS DOUBLE) / n)"
    val variance = "((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * " +
      "CAST(s AS DOUBLE) / n) / (n - 1))"
    val delta = s"($mean * mde_pct / 100.0)"
    val nArm = s"CAST(ceil(2.0 * (1.96 + 0.8416) * (1.96 + 0.8416) * " +
      s"$variance / ($delta * $delta)) AS BIGINT)"
    s"""WITH m AS (SELECT count(*) AS n,
       |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
       |    sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
       |      * CAST(round(value * 100) AS BIGINT)) AS s2,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_b
       |  FROM events WHERE event_type = 'click')
       |SELECT mde_pct,
       |  round($delta / 100.0, 6) AS delta_dollars,
       |  round($variance / 10000.0, 6) AS variance_dollars,
       |  $nArm AS n_per_arm,
       |  $nArm * 2 AS n_total,
       |  least(n_a, n_b) >= $nArm AS powered_now
       |FROM m CROSS JOIN (VALUES $grid) g(mde_pct)
       |ORDER BY mde_pct""".stripMargin
  }

  /** Two-sided O'Brien–Fleming group-sequential z boundaries for 5
    * equally-spaced interim looks at overall α = 0.05 — the textbook
    * values (Φ-scaled c/√t), inlined as the SAME literals in both
    * engines (the [[BhCritZ]] convention; no engine-side inverse CDF). */
  val ObfZ: IndexedSeq[Double] =
    IndexedSeq(4.8769, 3.3569, 2.6803, 2.2898, 2.0310)

  /** §2.296 `sequential_test`: group-sequential A/B monitoring — the
    * §2.208 Welch z recomputed at [[ObfZ]].size equally-spaced
    * CALENDAR looks with O'Brien–Fleming stopping boundaries, the
    * "peek early without lying to yourself" discipline an experiment
    * platform needs once dashboards refresh daily (five naive peeks
    * at α=0.05 false-alarm ~14% under the null; OBF spends almost no
    * α early and converges to ~1.96 at the final look).
    *
    * Scale shape: ONE map-side-combined pass collapses the corpus to
    * (arm, look) cells with exact integer moments (cents / HUGEINT,
    * §2.228); the cumulative-over-looks prefix sums, Welch z, and
    * boundary comparisons are windows over the ≤2×5-row cell frame.
    * Look assignment is all-integer: look = min(K−1, (day_idx·K) div
    * (span+1)).
    *
    * Determinism: z derives from identical integers in a fixed
    * sequence, rounded 4 dp BEFORE the boundary compare (grid-stable,
    * §2.228); boundaries are shared literals. */
  def sequentialTest(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val k = ObfZ.size
    val ev = Tables.events(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"), to_date(col("ts")).as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val span = ev.agg(min("day").as("d0"),
      datediff(max("day"), min("day")).as("span"))
    val cells = ev.crossJoin(broadcast(span))
      .select(
        when(col("user_id") % 2 === 0, "A").otherwise("B").as("arm"),
        least(lit(k - 1),
          expr(s"(datediff(day, d0) * $k) div (span + 1)")).as("look"),
        col("cents"))
      .groupBy("arm", "look").agg(
        count(lit(1)).as("n"), sum("cents").as("s"),
        sum((col("cents").cast(dec) * col("cents").cast(dec)).cast(dec))
          .as("s2"))
    val wCum = Window.partitionBy("arm").orderBy("look")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cells
      .withColumn("cn", sum("n").over(wCum))
      .withColumn("cs", sum("s").over(wCum))
      .withColumn("cs2", sum("s2").over(wCum))
    def d(c: Column) = c.cast("double")
    // cn=1 degenerate: the (cn-1) sample-variance divisor is an ANSI
    // divide-by-zero on Spark where DuckDB yields NULL — integer-gate
    // it (NULL variance → NULL z → crossed falls to the ELSE arm on
    // both engines, the strataAdjust pattern)
    def side(a: String) = cum.filter(col("arm") === a)
      .select(col("look"), col("cn").as(s"n_$a"),
        (d(col("cs")) / 100.0 / col("cn")).as(s"m_$a"),
        when(col("cn") > 1,
          ((d(col("cs2")) - d(col("cs")) * d(col("cs")) / col("cn")) /
            (col("cn") - 1)) / 10000.0).as(s"v_$a"))
    val bounds = spark.sql("SELECT * FROM VALUES " +
      ObfZ.zipWithIndex.map { case (b, i) =>
        s"($i, CAST($b AS DOUBLE))" }.mkString(",") + " AS t(look, obf_z)")
    // zero-variance-sum guard for the z denominator: both variances
    // identically 0.0 (all-equal cents) would be 0/0 under ANSI; the
    // > 0 compare is on identical fixed-sequence doubles cross-engine
    val z = side("A").join(side("B"), "look")
      .withColumn("z_stat", round(
        when(col("v_A") / col("n_A") + col("v_B") / col("n_B") > 0,
          (col("m_A") - col("m_B")) /
            sqrt(col("v_A") / col("n_A") + col("v_B") / col("n_B"))), 4))
      .join(broadcast(bounds), "look")
      .withColumn("crossed", abs(col("z_stat")) >= col("obf_z"))
    val wSoFar = Window.orderBy("look")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    z.withColumn("rejected_by_now",
        max(when(col("crossed"), 1L).otherwise(0L)).over(wSoFar) === 1L)
      .select(col("look"), col("n_A").as("n_a"), col("n_B").as("n_b"),
        round(col("m_A"), 4).as("mean_a"), round(col("m_B"), 4).as("mean_b"),
        col("z_stat"), col("obf_z"), col("crossed"), col("rejected_by_now"))
      .orderBy("look")
  }

  val sequentialTestSql: String = {
    val k = ObfZ.size
    val bounds = ObfZ.zipWithIndex
      .map { case (b, i) => s"($i, CAST($b AS DOUBLE))" }.mkString(", ")
    s"""WITH ev AS (SELECT user_id,
       |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
       |    CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events WHERE event_type = 'click'),
       |sp AS (SELECT min(day) AS d0, max(day) - min(day) AS span FROM ev),
       |cells AS (SELECT
       |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
       |    least($k - 1, ((day - d0) * $k) // (span + 1)) AS look,
       |    count(*) AS n, CAST(sum(cents) AS BIGINT) AS s,
       |    sum(CAST(cents AS HUGEINT) * cents) AS s2
       |  FROM ev CROSS JOIN sp GROUP BY 1, 2),
       |cum AS (SELECT arm, look,
       |    CAST(sum(n) OVER w AS BIGINT) AS cn,
       |    CAST(sum(s) OVER w AS BIGINT) AS cs,
       |    sum(s2) OVER w AS cs2
       |  FROM cells
       |  WINDOW w AS (PARTITION BY arm ORDER BY look
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |sides AS (SELECT a.look,
       |    a.cn AS n_a, b.cn AS n_b,
       |    CAST(a.cs AS DOUBLE) / 100.0 / a.cn AS m_a,
       |    CAST(b.cs AS DOUBLE) / 100.0 / b.cn AS m_b,
       |    CASE WHEN a.cn > 1 THEN
       |      ((CAST(a.cs2 AS DOUBLE) - CAST(a.cs AS DOUBLE) * CAST(a.cs AS DOUBLE) / a.cn)
       |      / (a.cn - 1)) / 10000.0 END AS v_a,
       |    CASE WHEN b.cn > 1 THEN
       |      ((CAST(b.cs2 AS DOUBLE) - CAST(b.cs AS DOUBLE) * CAST(b.cs AS DOUBLE) / b.cn)
       |      / (b.cn - 1)) / 10000.0 END AS v_b
       |  FROM (SELECT * FROM cum WHERE arm = 'A') a
       |  JOIN (SELECT * FROM cum WHERE arm = 'B') b ON a.look = b.look),
       |z AS (SELECT look, n_a, n_b, m_a, m_b,
       |    round(CASE WHEN v_a / n_a + v_b / n_b > 0
       |      THEN (m_a - m_b) / sqrt(v_a / n_a + v_b / n_b) END, 4) AS z_stat
       |  FROM sides),
       |j AS (SELECT z.*, c.obf_z, abs(z.z_stat) >= c.obf_z AS crossed
       |  FROM z JOIN (VALUES $bounds) c(lk, obf_z) ON c.lk = z.look)
       |SELECT look, n_a, n_b,
       |  round(m_a, 4) AS mean_a, round(m_b, 4) AS mean_b,
       |  z_stat, obf_z, crossed,
       |  max(CASE WHEN crossed THEN 1 ELSE 0 END) OVER (ORDER BY look
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
       |    AS rejected_by_now
       |FROM j ORDER BY look""".stripMargin
  }

  /** §2.295 `conformal_pi`: split-conformal prediction interval
    * (Vovk; Lei et al.) around the §2.65-style OLS of line price on
    * quantity — the distribution-free "how wrong is the model, with
    * guarantees" wrapper a 100 TB scoring pipeline wants: a 90%
    * interval that needs NO normality assumption, just exchangeable
    * calibration data. Three disjoint folds by l_orderkey mod 3:
    * fit (OLS moments), calibrate (the ⌈0.9(n+1)⌉-th order statistic
    * of |residual| on a whole-dollar grid), evaluate (empirical coverage — the honest check
    * the calibration fold can't give).
    *
    * Scale shape: TWO corpus scans — one for the fit moments (1-row
    * broadcast back), one computing BOTH remaining folds' residual
    * CELLS (cents grid, tagged by fold) — then the order statistic
    * and coverage are windows/joins over bounded cell frames (the
    * §2.203 gridded-rank trick; no data-sized sort for a quantile).
    *
    * Determinism: moments exact cents/DECIMAL(38,0) integers; α/β
    * fixed-sequence doubles of those integers; residuals rounded to an
    * integer DOLLAR grid per row (cents would leave ~10⁷ possible
    * cells; dollars cap the rank window at ~10⁵ whatever the corpus); the rank index ⌈0.9(n+1)⌉ is
    * all-integer ((9(n+1)+9) div 10); coverage one final division. */
  def conformalPi(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val li = Tables.lineitem(spark, dir).select(
      (col("l_orderkey") % 3).as("g"),
      expr("CAST(round(l_quantity) AS BIGINT)").as("x"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("y"))
    val m = li.filter(col("g") === 0).agg(
      count(lit(1)).as("n_fit"), sum("x").as("sx"), sum("y").as("sy"),
      sum((col("x").cast(dec) * col("y").cast(dec)).cast(dec)).as("sxy"),
      sum((col("x").cast(dec) * col("x").cast(dec)).cast(dec)).as("sxx"))
    def d(c: String) = col(c).cast("double")
    val beta = (col("n_fit") * d("sxy") - d("sx") * d("sy")) /
      (col("n_fit") * d("sxx") - d("sx") * d("sx"))
    val ab = m.select(col("n_fit"), beta.as("beta"),
      ((d("sy") - beta * d("sx")) / col("n_fit")).as("alpha"))
    // bounded dollar-grid cells feed calibration AND evaluation — one
    // materialization instead of re-running the residual scan
    val cells = graft.Barrier("conformal.cells", li.filter(col("g") =!= 0).crossJoin(broadcast(ab))
      .select(col("g"), col("n_fit"), col("beta"), col("alpha"),
        expr("CAST(round(abs(y - (alpha + beta * x)) / 100) AS BIGINT)")
          .as("r"))
      .groupBy("g", "n_fit", "beta", "alpha", "r")
      .agg(count(lit(1)).as("c")))
    val wCum = Window.partitionBy("g").orderBy("r")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("g")
    val calib = cells.filter(col("g") === 1)
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("n_cal", sum("c").over(wAll))
      .withColumn("q_rank", expr("(9 * (n_cal + 1) + 9) div 10"))
      .filter(col("cum") >= col("q_rank"))
      .groupBy("n_fit", "beta", "alpha", "n_cal")
      .agg(min("r").as("q90_d"))
    cells.filter(col("g") === 2).select("r", "c")
      .crossJoin(broadcast(calib))
      .groupBy("n_fit", "beta", "alpha", "n_cal", "q90_d")
      .agg(sum("c").as("n_eval"),
        sum(when(col("r") <= col("q90_d"), col("c")).otherwise(0L))
          .as("n_cov"))
      .select(col("n_fit"), col("n_cal"), col("n_eval"),
        round(col("beta") / 100.0, 6).as("beta_dollars"),
        round(col("alpha") / 100.0, 6).as("alpha_dollars"),
        col("q90_d").cast("double").as("q90_dollars"),
        round(col("n_cov").cast("double") / col("n_eval"), 6).as("coverage"))
  }

  val conformalPiSql: String = {
    val beta = "((n_fit * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * " +
      "CAST(sy AS DOUBLE)) / (n_fit * CAST(sxx AS DOUBLE) - " +
      "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
    s"""WITH li AS (SELECT l_orderkey % 3 AS g,
       |    CAST(round(l_quantity) AS BIGINT) AS x,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
       |  FROM lineitem),
       |m AS (SELECT count(*) AS n_fit,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    sum(CAST(x AS HUGEINT) * y) AS sxy,
       |    sum(CAST(x AS HUGEINT) * x) AS sxx
       |  FROM li WHERE g = 0),
       |ab AS (SELECT n_fit, $beta AS beta,
       |    (CAST(sy AS DOUBLE) - $beta * CAST(sx AS DOUBLE)) / n_fit
       |      AS alpha
       |  FROM m),
       |cells AS (SELECT g, n_fit, beta, alpha,
       |    CAST(round(abs(y - (alpha + beta * x)) / 100) AS BIGINT) AS r,
       |    count(*) AS c
       |  FROM li CROSS JOIN ab WHERE g <> 0 GROUP BY 1, 2, 3, 4, 5),
       |calib AS (SELECT n_fit, beta, alpha, n_cal, min(r) AS q90_d
       |  FROM (SELECT *,
       |      CAST(sum(c) OVER (PARTITION BY g ORDER BY r
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |        AS BIGINT) AS cum,
       |      CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n_cal
       |    FROM cells WHERE g = 1) t
       |  WHERE cum >= (9 * (n_cal + 1) + 9) // 10
       |  GROUP BY 1, 2, 3, 4),
       |ev AS (SELECT CAST(sum(c) AS BIGINT) AS n_eval,
       |    CAST(sum(CASE WHEN r <= (SELECT q90_d FROM calib)
       |      THEN c ELSE 0 END) AS BIGINT) AS n_cov
       |  FROM cells WHERE g = 2)
       |SELECT n_fit, n_cal, n_eval,
       |  round(beta / 100.0, 6) AS beta_dollars,
       |  round(alpha / 100.0, 6) AS alpha_dollars,
       |  CAST(q90_d AS DOUBLE) AS q90_dollars,
       |  round(CAST(n_cov AS DOUBLE) / n_eval, 6) AS coverage
       |FROM calib CROSS JOIN ev""".stripMargin
  }

  val cupedAdjustSql: String = {
    val cxy = "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)"
    val cxx = "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)"
    val cyy = "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)"
    val degen = "(sxx * CAST(n AS HUGEINT) = CAST(sx AS HUGEINT) * sx)"
    val theta = s"(CASE WHEN $degen THEN 0.0 ELSE $cxy / $cxx END)"
    val r2 = s"(CASE WHEN $degen THEN 0.0 ELSE $cxy * $cxy / ($cxx * $cyy) END)"
    val adjA = s"(CASE WHEN n_a > 0 THEN (CAST(sy_a AS DOUBLE) / n_a - $theta * " +
      "(CAST(sx_a AS DOUBLE) / n_a - CAST(sx AS DOUBLE) / n)) / 100.0 END)"
    val adjB = s"(CASE WHEN n_b > 0 THEN (CAST(sy_b AS DOUBLE) / n_b - $theta * " +
      "(CAST(sx_b AS DOUBLE) / n_b - CAST(sx AS DOUBLE) / n)) / 100.0 END)"
    s"""WITH ev AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
       |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
       |mid AS (SELECT min(day) AS d0,
       |    CAST((max(day) - min(day)) // 2 AS INTEGER) AS half FROM ev),
       |users AS (SELECT user_id,
       |    CAST(sum(CASE WHEN (day - d0) < half THEN cents ELSE 0 END)
       |      AS BIGINT) AS x,
       |    CAST(sum(CASE WHEN (day - d0) >= half THEN cents ELSE 0 END)
       |      AS BIGINT) AS y,
       |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm
       |  FROM ev CROSS JOIN mid GROUP BY user_id),
       |one AS (SELECT count(*) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    sum(CAST(x AS HUGEINT) * x) AS sxx,
       |    sum(CAST(x AS HUGEINT) * y) AS sxy,
       |    sum(CAST(y AS HUGEINT) * y) AS syy,
       |    CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN arm = 'A' THEN x ELSE 0 END) AS BIGINT) AS sx_a,
       |    CAST(sum(CASE WHEN arm = 'A' THEN y ELSE 0 END) AS BIGINT) AS sy_a,
       |    CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |    CAST(sum(CASE WHEN arm = 'B' THEN x ELSE 0 END) AS BIGINT) AS sx_b,
       |    CAST(sum(CASE WHEN arm = 'B' THEN y ELSE 0 END) AS BIGINT) AS sy_b
       |  FROM users)
       |SELECT n_a, n_b,
       |  round(CASE WHEN n_a > 0
       |    THEN CAST(sy_a AS DOUBLE) / 100.0 / n_a END, 6) AS mean_a,
       |  round(CASE WHEN n_b > 0
       |    THEN CAST(sy_b AS DOUBLE) / 100.0 / n_b END, 6) AS mean_b,
       |  round($theta, 6) AS theta,
       |  round($r2, 6) AS var_reduction,
       |  round($adjA, 6) AS adj_mean_a,
       |  round($adjB, 6) AS adj_mean_b,
       |  round(CASE WHEN n_a > 0
       |      THEN CAST(sy_a AS DOUBLE) / 100.0 / n_a END
       |    - CASE WHEN n_b > 0
       |      THEN CAST(sy_b AS DOUBLE) / 100.0 / n_b END, 6) AS diff_raw,
       |  round($adjA - $adjB, 6) AS diff_adj
       |FROM one""".stripMargin
  }

  /** §2.311 `strata_adjust`: post-stratification treatment-effect
    * adjustment (the observational twin of §2.288's CUPED): exposure =
    * "user's error-event count above the corpus median" (organic and
    * activity-correlated — NOT randomized; more events means more
    * errors, so exposure confounds with activity by construction),
    * outcome = per-user purchase cents, strata = activity deciles by
    * click count. Per stratum the arm means and gap; then the naive
    * pooled difference vs the stratum-size-weighted adjusted
    * difference Σ(n_s/n_valid)·(ȳ_t,s − ȳ_c,s) over strata carrying
    * BOTH arms — the Simpson's-paradox correction, and the first
    * causal adjustment anyone runs on 100 TB of logs where treatment
    * was never assigned.
    *
    * Scale shape: ONE user-grain map-side-combined groupBy; both the
    * decile assignment and the exposure median reuse §2.289's integer
    * boundary rule over VALUE-grain frames (clicks/errors per user
    * are small-integer grids, so both frames are bounded) joined back
    * by value — broadcasts of grids, not data-sized dims; then one
    * groupBy to ≤10 stratum cells, windows over those.
    *
    * Determinism: counts/cents exact BIGINTs; decile boundaries and
    * the median by INTEGER arithmetic (cum_below·10 div n; smallest
    * value with cum·2 ≥ n); arm means single divisions guarded by
    * INTEGER compares (an empty arm yields NULL, never an ANSI
    * divide-by-zero); each adjusted addend is one fixed-sequence
    * float of exact integers rounded 6 dp before the ≤10-addend
    * sum. */
  def strataAdjust(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val users = ev.groupBy("user_id").agg(
      sum(when(col("event_type") === "click", 1L).otherwise(0L))
        .as("clicks"),
      sum(when(col("event_type") === "error", 1L).otherwise(0L))
        .as("errs"),
      sum(when(col("event_type") === "purchase",
        expr("CAST(round(value * 100) AS BIGINT)")).otherwise(0L))
        .as("cents"))
    val wAll = Window.partitionBy(lit(1))
    val medErr = users.groupBy("errs").agg(count(lit(1)).as("ec"))
      .withColumn("cum", sum("ec").over(Window.orderBy("errs")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("nu", sum("ec").over(wAll))
      .agg(min(when(col("cum") * 2 >= col("nu"), col("errs")))
        .as("med_err"))
    val grid = users.groupBy("clicks").agg(count(lit(1)).as("gc"))
    val wCum = Window.orderBy("clicks")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val deciled = grid
      .withColumn("cum_below", sum("gc").over(wCum) - col("gc"))
      .withColumn("n_users", sum("gc").over(wAll))
      .withColumn("stratum",
        least(expr("cum_below * 10 div n_users"), lit(9L)))
      .select("clicks", "stratum")
    val cells = users.join(broadcast(deciled), "clicks")
      .crossJoin(broadcast(medErr))
      .withColumn("treated", when(col("errs") > col("med_err"), 1L)
        .otherwise(0L))
      .groupBy("stratum").agg(
        sum(when(col("treated") === 1L, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("treated") === 0L, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("treated") === 1L, col("cents")).otherwise(0L))
          .as("cents_t"),
        sum(when(col("treated") === 0L, col("cents")).otherwise(0L))
          .as("cents_c"))
    def d(c: Column) = c.cast("double")
    val valid = col("n_t") > 0L && col("n_c") > 0L
    val meanT = d(col("cents_t")) / 100.0 / d(col("n_t"))
    val meanC = d(col("cents_c")) / 100.0 / d(col("n_c"))
    val marked = cells
      .withColumn("mean_t", when(col("n_t") === 0L, lit(null))
        .otherwise(round(meanT, 6)))
      .withColumn("mean_c", when(col("n_c") === 0L, lit(null))
        .otherwise(round(meanC, 6)))
      .withColumn("diff", when(valid, round(meanT - meanC, 6)))
      .withColumn("n_valid",
        sum(when(valid, col("n_t") + col("n_c")).otherwise(0L)).over(wAll))
      .withColumn("adj_term", when(valid, round(
        d(col("n_t") + col("n_c")) / d(col("n_valid")) *
          (meanT - meanC), 6)).otherwise(lit(0.0)))
    marked
      .withColumn("naive_diff", when(
        sum("n_t").over(wAll) === 0L || sum("n_c").over(wAll) === 0L,
        lit(null).cast("double")).otherwise(round(
        sum("cents_t").over(wAll).cast("double") / 100.0 /
          d(sum("n_t").over(wAll)) -
          sum("cents_c").over(wAll).cast("double") / 100.0 /
            d(sum("n_c").over(wAll)), 6)))
      .withColumn("adjusted_diff", round(sum("adj_term").over(wAll), 6))
      .withColumn("n_strata_valid",
        sum(when(valid, 1L).otherwise(0L)).over(wAll))
      .select(col("stratum"), col("n_t"), col("n_c"), col("mean_t"),
        col("mean_c"), col("diff"), col("naive_diff"),
        col("adjusted_diff"), col("n_strata_valid"))
      .orderBy("stratum")
  }

  val strataAdjustSql: String =
    """WITH users AS (SELECT user_id,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS clicks,
      |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS errs,
      |    CAST(sum(CASE WHEN event_type = 'purchase'
      |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
      |      AS cents
      |  FROM events GROUP BY 1),
      |med AS (SELECT min(CASE WHEN cum * 2 >= nu THEN errs END) AS med_err
      |  FROM (SELECT errs,
      |      CAST(sum(ec) OVER (ORDER BY errs
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |        AS cum,
      |      CAST(sum(ec) OVER () AS BIGINT) AS nu
      |    FROM (SELECT errs, count(*) AS ec FROM users GROUP BY 1) g) m),
      |grid AS (SELECT clicks, count(*) AS gc FROM users GROUP BY 1),
      |deciled AS (SELECT clicks,
      |    least((CAST(sum(gc) OVER (ORDER BY clicks
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      - gc) * 10 // CAST(sum(gc) OVER () AS BIGINT), 9) AS stratum
      |  FROM grid),
      |cells AS (SELECT d.stratum,
      |    CAST(sum(CASE WHEN u.errs > med.med_err THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_t,
      |    CAST(sum(CASE WHEN u.errs > med.med_err THEN 0 ELSE 1 END)
      |      AS BIGINT) AS n_c,
      |    CAST(sum(CASE WHEN u.errs > med.med_err THEN u.cents ELSE 0 END)
      |      AS BIGINT) AS cents_t,
      |    CAST(sum(CASE WHEN u.errs > med.med_err THEN 0 ELSE u.cents END)
      |      AS BIGINT) AS cents_c
      |  FROM users u JOIN deciled d ON u.clicks = d.clicks CROSS JOIN med
      |  GROUP BY 1),
      |marked AS (SELECT stratum, n_t, n_c, cents_t, cents_c,
      |    CASE WHEN n_t = 0 THEN NULL
      |      ELSE round(CAST(cents_t AS DOUBLE) / 100.0 / n_t, 6)
      |    END AS mean_t,
      |    CASE WHEN n_c = 0 THEN NULL
      |      ELSE round(CAST(cents_c AS DOUBLE) / 100.0 / n_c, 6)
      |    END AS mean_c,
      |    CASE WHEN n_t > 0 AND n_c > 0 THEN round(
      |      CAST(cents_t AS DOUBLE) / 100.0 / n_t
      |        - CAST(cents_c AS DOUBLE) / 100.0 / n_c, 6) END AS diff,
      |    CAST(sum(CASE WHEN n_t > 0 AND n_c > 0 THEN n_t + n_c ELSE 0 END)
      |      OVER () AS BIGINT) AS n_valid,
      |    CAST(sum(n_t) OVER () AS BIGINT) AS tot_nt,
      |    CAST(sum(n_c) OVER () AS BIGINT) AS tot_nc,
      |    CAST(sum(cents_t) OVER () AS BIGINT) AS tot_ct,
      |    CAST(sum(cents_c) OVER () AS BIGINT) AS tot_cc
      |  FROM cells),
      |terms AS (SELECT *,
      |    CASE WHEN n_t > 0 AND n_c > 0 THEN round(
      |      CAST(n_t + n_c AS DOUBLE) / n_valid
      |        * (CAST(cents_t AS DOUBLE) / 100.0 / n_t
      |           - CAST(cents_c AS DOUBLE) / 100.0 / n_c), 6)
      |      ELSE 0.0 END AS adj_term
      |  FROM marked)
      |SELECT stratum, n_t, n_c, mean_t, mean_c, diff,
      |  CASE WHEN tot_nt = 0 OR tot_nc = 0 THEN NULL
      |    ELSE round(CAST(tot_ct AS DOUBLE) / 100.0 / tot_nt
      |      - CAST(tot_cc AS DOUBLE) / 100.0 / tot_nc, 6) END AS naive_diff,
      |  round(sum(adj_term) OVER (), 6) AS adjusted_diff,
      |  CAST(sum(CASE WHEN n_t > 0 AND n_c > 0 THEN 1 ELSE 0 END)
      |    OVER () AS BIGINT) AS n_strata_valid
      |FROM terms ORDER BY stratum""".stripMargin

  /** §2.312 `spearman_corr`: Spearman rank correlation between two
    * per-item engagement metrics — click count vs purchase cents —
    * with Pearson on the raw values alongside: ρ_s asks "does MORE
    * clicked mean MORE bought" monotonically, immune to the heavy
    * right tails that dominate r (§2.16 measures linear association
    * on lineitem; this is the rank-based twin on the catalog, the
    * robust default for skewed engagement data).
    *
    * Scale shape: the corpus collapses to the item grain (catalog-
    * bounded) in ONE map-side-combined groupBy; average ranks come
    * from TWO windows over that bounded frame (rank() + tie count —
    * no value-grain join-back needed at catalog scale); the moment
    * reduction is one row.
    *
    * Determinism: average ranks with ties are half-integers, carried
    * ×2 as exact integers (u = 2·rank_min + tie_cnt − 1, the §2.203
    * convention); ALL five moments are DECIMAL(38,0) ≡ HUGEINT sums
    * of integer products; ρ and r are single fixed-sequence
    * expressions (sqrt on identical doubles — the one libm call both
    * engines agree on). */
  def spearmanCorr(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val items = Tables.events(spark, dir)
      .select(get_json_object(col("props"), "$.k").cast("bigint").as("item"),
        col("event_type"), col("value"))
      .filter(col("item").isNotNull)
      .groupBy("item").agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase",
          expr("CAST(round(value * 100) AS BIGINT)")).otherwise(0L)).as("y"))
    def u2(c: String): Column =
      rank().over(Window.orderBy(col(c))).cast("long") * 2 +
        count(lit(1)).over(Window.partitionBy(col(c))) - 1
    val ranked = items
      .withColumn("u", u2("x")).withColumn("v", u2("y"))
    def m(a: Column, b: Column) = sum((a.cast(dec) * b.cast(dec)).cast(dec))
    val agg = ranked.agg(
      count(lit(1)).as("n"),
      m(col("u"), lit(1L)).as("su"), m(col("v"), lit(1L)).as("sv"),
      m(col("u"), col("u")).as("su2"), m(col("v"), col("v")).as("sv2"),
      m(col("u"), col("v")).as("suv"),
      m(col("x"), lit(1L)).as("sx"), m(col("y"), lit(1L)).as("sy"),
      m(col("x"), col("x")).as("sx2"), m(col("y"), col("y")).as("sy2"),
      m(col("x"), col("y")).as("sxy"))
    def d(c: Column) = c.cast("double")
    def corr(n: Column, s1: Column, s2: Column, q1: Column, q2: Column,
             s12: Column): Column =
      round(try_divide(d(n) * d(s12) - d(s1) * d(s2),
        sqrt((d(n) * d(q1) - d(s1) * d(s1)) *
          (d(n) * d(q2) - d(s2) * d(s2)))), 6)
    agg.select(col("n").as("n_items"),
      corr(col("n"), col("su"), col("sv"), col("su2"), col("sv2"),
        col("suv")).as("spearman_rho"),
      corr(col("n"), col("sx"), col("sy"), col("sx2"), col("sy2"),
        col("sxy")).as("pearson_r"))
  }

  /** §2.316 `hash_uniformity`: randomization-infrastructure audit —
    * the user population pushed through the TWO bucketings every
    * experiment here trusts (the §2.170 parity arms; the §2.159-style
    * 100-bucket split hash), each tested against uniform: χ² vs
    * E = n/k, plus max/min bucket shares. §2.167's SRM check audits
    * ONE experiment's realized arm ratio; this audits the HASH ITSELF
    * before any experiment runs on it — a biased bucketer silently
    * invalidates every test downstream, and at 100 TB nobody re-rolls
    * assignments.
    *
    * Scale shape: ONE user-grain map-side-combined groupBy (the only
    * corpus-sized stage, shared by both configs via a 2-way fanout),
    * then k-bounded bucket cells; the χ² and shares are windows over
    * ≤102 rows.
    *
    * Determinism: bucket counts exact; E = n/k one division; each χ²
    * addend is one fixed-sequence float of identical integers rounded
    * to exact ×10⁶ micro-units before the ≤100-addend sum (§2.203
    * carry); shares single divisions. */
  def hashUniformity(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextFunctions.hash64
    val users = Tables.events(spark, dir).select("user_id").distinct()
    val buckets = users.select(
      explode(array(
        struct(lit("parity_2").as("config"),
          (col("user_id") % 2).as("bucket")),
        struct(lit("hash_100").as("config"),
          pmod(hash64(concat_ws(":", lit("hu"), col("user_id"))),
            lit(100)).as("bucket")))).as("cb"))
      .select(col("cb.config").as("config"), col("cb.bucket").as("bucket"))
    val cells = buckets.groupBy("config", "bucket")
      .agg(count(lit(1)).as("o"))
    val w = Window.partitionBy("config")
    def d(c: Column) = c.cast("double")
    val marked = cells
      .withColumn("n", sum("o").over(w))
      .withColumn("k", count(lit(1)).over(w))
      .withColumn("e", d(col("n")) / d(col("k")))
      .withColumn("chi2_micro", round(
        (d(col("o")) - col("e")) * (d(col("o")) - col("e")) / col("e") *
          1000000).cast("long"))
    marked.groupBy("config", "n", "k").agg(
      round(sum("chi2_micro") / 1000000.0, 6).as("chi2"),
      (max("k") - 1).as("df"),
      round(d(max("o")) / d(max("n")), 6).as("max_share"),
      round(d(min("o")) / d(max("n")), 6).as("min_share"))
      .select(col("config"), col("n").as("n_users"),
        col("k").as("n_buckets"), col("chi2"), col("df"),
        col("max_share"), col("min_share"))
      .orderBy("config")
  }

  val hashUniformitySql: String = {
    import graft.text.TextFunctions.hash64Sql
    val h = hash64Sql("concat_ws(':', 'hu', user_id)")
    s"""WITH users AS (SELECT DISTINCT user_id FROM events),
       |buckets AS (
       |  SELECT 'parity_2' AS config, user_id % 2 AS bucket FROM users
       |  UNION ALL
       |  SELECT 'hash_100', ((($h) % 100) + 100) % 100 FROM users),
       |cells AS (SELECT config, bucket, count(*) AS o
       |  FROM buckets GROUP BY 1, 2),
       |marked AS (SELECT config, o,
       |    CAST(sum(o) OVER (PARTITION BY config) AS BIGINT) AS n,
       |    CAST(count(*) OVER (PARTITION BY config) AS BIGINT) AS k
       |  FROM cells),
       |mm AS (SELECT config, o, n, k, CAST(n AS DOUBLE) / k AS e
       |  FROM marked),
       |mc AS (SELECT config, o, n, k,
       |    CAST(round((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e)
       |      / e * 1000000) AS BIGINT) AS chi2_micro
       |  FROM mm)
       |SELECT config, n AS n_users, k AS n_buckets,
       |  round(CAST(sum(chi2_micro) AS BIGINT) / 1000000.0, 6) AS chi2,
       |  CAST(max(k) - 1 AS BIGINT) AS df,
       |  round(CAST(max(o) AS DOUBLE) / max(n), 6) AS max_share,
       |  round(CAST(min(o) AS DOUBLE) / max(n), 6) AS min_share
       |FROM mc GROUP BY config, n, k
       |ORDER BY config""".stripMargin
  }

  val spearmanCorrSql: String =
    """WITH items AS (SELECT
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN event_type = 'purchase'
      |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
      |      AS y
      |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
      |  GROUP BY 1),
      |ranked AS (SELECT x, y,
      |    CAST(rank() OVER (ORDER BY x) AS BIGINT) * 2
      |      + CAST(count(*) OVER (PARTITION BY x) AS BIGINT) - 1 AS u,
      |    CAST(rank() OVER (ORDER BY y) AS BIGINT) * 2
      |      + CAST(count(*) OVER (PARTITION BY y) AS BIGINT) - 1 AS v
      |  FROM items),
      |agg AS (SELECT count(*) AS n,
      |    sum(CAST(u AS HUGEINT)) AS su, sum(CAST(v AS HUGEINT)) AS sv,
      |    sum(CAST(u AS HUGEINT) * u) AS su2,
      |    sum(CAST(v AS HUGEINT) * v) AS sv2,
      |    sum(CAST(u AS HUGEINT) * v) AS suv,
      |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |    sum(CAST(x AS HUGEINT) * x) AS sx2,
      |    sum(CAST(y AS HUGEINT) * y) AS sy2,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy
      |  FROM ranked)
      |SELECT n AS n_items,
      |  round((CAST(n AS DOUBLE) * CAST(suv AS DOUBLE)
      |      - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE))
      |    / sqrt((CAST(n AS DOUBLE) * CAST(su2 AS DOUBLE)
      |        - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))
      |      * (CAST(n AS DOUBLE) * CAST(sv2 AS DOUBLE)
      |        - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))), 6)
      |    AS spearman_rho,
      |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / sqrt((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * (CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
      |    AS pearson_r
      |FROM agg""".stripMargin

  /** §2.353 `cliffs_delta`: Cliff's δ ordinal effect size between the
    * §2.209 arms (click vs view values) — the U test says WHETHER the
    * distributions differ, δ = P(a>b) − P(a<b) says BY HOW MUCH on a
    * scale reviewers can read (Romano et al. 2006 thresholds .147 /
    * .33 / .474 for small/medium/large). Same scale shape as §2.209:
    * the corpus collapses to value-grain cells in ONE map-side
    * groupBy; both directed pair counts come from cumulative windows
    * over that bounded frame — Σ na·cumb_below and Σ na·nb_above are
    * exact BIGINTs (never a pair materialization), δ is ONE division,
    * and the magnitude label compares |numerator|·1000 against
    * threshold·denominator in pure integers (no float boundary).
    * Empty arms INTEGER-gate δ to NULL. */
  def cliffsDelta(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "view"))
      .groupBy(col("value").as("s")).agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("na"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("nb"))
    val w = Window.orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = cells
      .withColumn("cumb", sum("nb").over(w) - col("nb")) // nb strictly below
      .withColumn("nbt", sum("nb").over(Window.partitionBy(lit(1))))
      .withColumn("gt", col("na") * col("cumb"))
      .withColumn("lt", col("na") * (col("nbt") - col("cumb") - col("nb")))
    ranked.agg(
      sum("na").as("n_a"), max("nbt").as("n_b"),
      sum("gt").as("gt_pairs"), sum("lt").as("lt_pairs"))
      .withColumn("num", col("gt_pairs") - col("lt_pairs"))
      .withColumn("den", col("n_a") * col("n_b"))
      .select(col("n_a"), col("n_b"), col("gt_pairs"), col("lt_pairs"),
        when(col("den") > 0,
          round(col("num").cast("double") / col("den").cast("double"), 6))
          .otherwise(lit(null).cast("double")).as("cliffs_delta"),
        when(col("den") === 0, lit("undefined"))
          .when(abs(col("num")) * 1000 < col("den") * 147, lit("negligible"))
          .when(abs(col("num")) * 1000 < col("den") * 330, lit("small"))
          .when(abs(col("num")) * 1000 < col("den") * 474, lit("medium"))
          .otherwise(lit("large")).as("magnitude"))
  }

  val cliffsDeltaSql: String =
    """WITH cells AS (SELECT value AS s,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS na,
      |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS nb
      |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1),
      |ranked AS (SELECT na, nb,
      |    CAST(sum(nb) OVER (ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nb
      |      AS BIGINT) AS cumb,
      |    CAST(sum(nb) OVER () AS BIGINT) AS nbt
      |  FROM cells),
      |agg AS (SELECT CAST(sum(na) AS BIGINT) AS n_a,
      |    CAST(max(nbt) AS BIGINT) AS n_b,
      |    CAST(sum(na * cumb) AS BIGINT) AS gt_pairs,
      |    CAST(sum(na * (nbt - cumb - nb)) AS BIGINT) AS lt_pairs
      |  FROM ranked)
      |SELECT n_a, n_b, gt_pairs, lt_pairs,
      |  CASE WHEN n_a * n_b > 0 THEN
      |    round(CAST(gt_pairs - lt_pairs AS DOUBLE)
      |      / CAST(n_a * n_b AS DOUBLE), 6) ELSE NULL END AS cliffs_delta,
      |  CASE WHEN n_a * n_b = 0 THEN 'undefined'
      |    WHEN abs(gt_pairs - lt_pairs) * 1000 < n_a * n_b * 147
      |      THEN 'negligible'
      |    WHEN abs(gt_pairs - lt_pairs) * 1000 < n_a * n_b * 330
      |      THEN 'small'
      |    WHEN abs(gt_pairs - lt_pairs) * 1000 < n_a * n_b * 474
      |      THEN 'medium'
      |    ELSE 'large' END AS magnitude
      |FROM agg""".stripMargin
}
