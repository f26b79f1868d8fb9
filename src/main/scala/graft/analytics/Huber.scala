package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Huber robust location — SURVEY.md §2.348.
  *
  * The robust-stats family so far covers robust SPREAD/SLOPE/OUTLIERS
  * (§2.126 MAD flags, §2.253 Theil–Sen, §2.81 winsorize); the missing
  * member is the robust LOCATION estimate itself: the Huber M-estimator
  * (Huber 1964) — the maximum-likelihood compromise that treats inliers
  * quadratically and outliers linearly, the default "mean that survives
  * a corrupted tail" in every robust-stats package. Computed as the
  * textbook IRLS with the iteration count FIXED at two (w = min(1,
  * k·s/|x−m|), k = 1.345 for 95% Gaussian efficiency) so the whole
  * chain unrolls into static SQL — the §2.73 fixed-Lloyd-rounds
  * pattern; two reweights already move the estimate to ~1e-3 of the
  * fixed point on these balances, and the per-iteration columns are
  * reported so convergence is auditable from the output.
  *
  * Determinism: all arithmetic on exact integer CENTS. Balances can be
  * NEGATIVE, and truncating div (Spark, sign-toward-zero) diverges
  * from flooring // (DuckDB) on negative dividends — the §2.303
  * cross-engine trap — so every HALF-UP mean runs on values SHIFTED by
  * +10⁶ cents (≥ the schema's −10⁵ floor): adding S pre-division and
  * subtracting S after is EXACT (the shift adds S·denominator to the
  * numerator), and every dividend stays non-negative. Weights are
  * HALF-UP e6 units from the INTEGER cross-compare 1000·|x−m| ≤
  * 1345·s (never a float boundary); Σw·x' sums in DECIMAL(38,0); the
  * only floats are display divisions. s = mean |x−m0| (the MAD-mean);
  * s = 0 (all values equal — the degenerate corpus) INTEGER-gates both
  * iterations to the plain mean with zero downweighted rows.
  *
  * Scale shape: ONE map-side-combined scan of the (nation, cents)
  * projection collapses the corpus to its value histogram (bounded by
  * the cents grid); the mean, the scale and both IRLS iterations then
  * run over the histogram, each collapsing to the ≤|nations| frame
  * rebroadcast to the next. No window ever touches the corpus: at
  * 100 TB that is 1 columnar scan of a 2-column projection plus one
  * histogram-sized shuffle (see `huberMean`). */
object Huber {

  /** Huber tuning constant ×1000 (1.345 — 95% efficiency at the
    * Gaussian). */
  val K1000 = 1345L
  /** Shift making every cents value non-negative (schema floor is
    * −999.99; generated data keeps the TPC-H range). */
  val Shift = 1000000L

  /** §2.348 `huber_mean`: per nation — n, plain mean, the scale, the
    * two IRLS iterates, and how many rows iteration 2 downweights.
    *
    * Round-14 shape (guide §2.3 "aggregate before you shuffle" — the
    * centPercentiles/anomaly_mad histogram recipe): balances live on a
    * 2-decimal grid, so ONE map-side-combined scan collapses the
    * corpus to the (nation, cents) VALUE HISTOGRAM — bounded by the
    * grid (≤ |nations|·~1.1 M bins at ANY corpus size) — and the mean,
    * scale, and both IRLS passes run over the histogram: every sum
    * Σ_rows f(x) is computed as Σ_bins cnt·f(v), the identical exact
    * integers in a different association order (BIGINT/DECIMAL adds
    * are associative — bit-identical results). The previous shape
    * re-scanned the checkpointed corpus projection 4× (the r13 barrier
    * fixed the SCANS but left 4 corpus-sized passes + exchanges); at
    * 100 TB this is 1 columnar scan + one histogram-sized shuffle,
    * then nation-grain arithmetic. */
  def huberMean(spark: SparkSession, dir: String): DataFrame = {
    // h: (nk, xs, cnt) — the one corpus pass; every downstream frame
    // is histogram-sized (lazy barrier: 4 non-identical consumers)
    val h = graft.Barrier("huber.hist", Tables.customer(spark, dir)
      .select(col("c_nationkey").as("nk"),
        expr(s"CAST(round(c_acctbal * 100) AS BIGINT) + $Shift").as("xs"))
      .groupBy("nk", "xs").agg(count(lit(1)).as("cnt")))
    // pass 1: shifted mean (exact HALF-UP cents); n = Σcnt, Σxs = Σcnt·xs
    val m0 = h.groupBy("nk")
      .agg(sum("cnt").as("n"), sum(col("cnt") * col("xs")).as("sx"))
      .withColumn("m0s", expr("(2 * sx + n) div (2 * n)"))
      .select("nk", "n", "m0s")
    // pass 2: scale = mean absolute deviation from m0 (shift cancels
    // in the difference; |·| keeps the dividend non-negative)
    val s0 = h.join(broadcast(m0), "nk")
      .groupBy(col("nk").as("nk2"))
      .agg(sum(col("cnt") * abs(col("xs") - col("m0s"))).as("sad"),
        max("n").as("n2"))
      .withColumn("s", expr("(2 * sad + n2) div (2 * n2)"))
      .select(col("nk2"), col("s"))
    def irls(frame: DataFrame, mCol: String, outM: String,
        outDw: String): DataFrame =
      h.join(broadcast(frame), col("nk") === col("jk"))
        .withColumn("d", abs(col("xs") - col(mCol)))
        // w_e6 = min(1, k·s/d) in HALF-UP e6 units; the inlier test is
        // the integer cross-compare 1000·d ≤ 1345·s (s = 0 ⇒ all d = 0
        // rows are inliers at weight 1 — no division ever sees d = 0).
        // w_e6 is a function of the BIN (d, s), so Σ_rows w·x =
        // Σ_bins cnt·w·v exactly.
        .withColumn("w_e6", when(col("d") * 1000 <= col("s") * K1000,
          lit(1000000L)).otherwise(expr(
          s"(2 * s * $K1000 * 1000 + d) div (2 * d)")))
        .groupBy(col("nk").as("gk"))
        .agg(sum(expr("CAST(w_e6 AS DECIMAL(38,0)) * xs * cnt")).as("swx"),
          sum(expr("CAST(w_e6 AS DECIMAL(38,0)) * cnt")).as("sw"),
          sum(when(col("w_e6") < 1000000L, col("cnt")).otherwise(0L))
            .as(outDw))
        .withColumn(outM, expr(
          "CAST((2 * swx + sw) div (CAST(2 AS DECIMAL(38,0)) * sw) AS BIGINT)"))
        .select(col("gk"), col(outM), col(outDw))
    val i1 = irls(m0.select(col("nk").as("jk"), col("m0s"))
      .join(broadcast(s0), col("jk") === col("nk2")).drop("nk2"),
      "m0s", "m1s", "dw1")
    val i2 = irls(i1.select(col("gk").as("jk"), col("m1s"))
      .join(broadcast(s0), col("jk") === col("nk2")).drop("nk2"),
      "m1s", "m2s", "dw2")
    val n = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"))
    m0.join(broadcast(i1.select(col("gk").as("k1"), col("m1s"), col("dw1"))),
        col("nk") === col("k1"))
      .join(broadcast(i2.select(col("gk").as("k2"), col("m2s"), col("dw2"))),
        col("nk") === col("k2"))
      .join(broadcast(n), col("nk") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("n"),
        round((col("m0s") - Shift).cast("double") / 100.0, 6).as("mean_bal"),
        round((col("m1s") - Shift).cast("double") / 100.0, 6).as("huber_i1"),
        round((col("m2s") - Shift).cast("double") / 100.0, 6).as("huber_i2"),
        col("dw2").as("n_downweighted"))
      .orderBy("nation")
  }

  val huberMeanSql: String = {
    def irlsSql(mSrc: String, mCol: String, out: String): String =
      s"""$out AS (SELECT c.nk,
         |    CAST((2 * sum(CAST(w_e6 AS HUGEINT) * xs) + sum(w_e6))
         |      // (CAST(2 AS HUGEINT) * sum(w_e6)) AS BIGINT) AS m,
         |    CAST(sum(CASE WHEN w_e6 < 1000000 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS dw
         |  FROM (SELECT c0.nk, c0.xs,
         |      CASE WHEN abs(c0.xs - $mCol) * 1000 <= s.s * $K1000
         |        THEN 1000000
         |        ELSE (2 * s.s * $K1000 * 1000 + abs(c0.xs - $mCol))
         |          // (2 * abs(c0.xs - $mCol)) END AS w_e6
         |    FROM c c0 JOIN $mSrc m ON c0.nk = m.nk
         |    JOIN s0 s ON c0.nk = s.nk) c
         |  GROUP BY c.nk)""".stripMargin
    s"""WITH c AS (SELECT c_nationkey AS nk,
       |    CAST(round(c_acctbal * 100) AS BIGINT) + $Shift AS xs
       |  FROM customer),
       |m0 AS (SELECT nk, count(*) AS n, CAST(sum(xs) AS BIGINT) AS sx,
       |    (2 * CAST(sum(xs) AS BIGINT) + count(*)) // (2 * count(*)) AS m0s
       |  FROM c GROUP BY nk),
       |s0 AS (SELECT c.nk,
       |    (2 * CAST(sum(abs(xs - m0s)) AS BIGINT) + max(n))
       |      // (2 * max(n)) AS s
       |  FROM c JOIN m0 ON c.nk = m0.nk GROUP BY c.nk),
       |${irlsSql("(SELECT nk, m0s AS m FROM m0)", "m.m", "i1")},
       |${irlsSql("(SELECT nk, m AS m FROM i1)", "m.m", "i2")}
       |SELECT n.n_name AS nation, m0.n,
       |  round(CAST(m0.m0s - $Shift AS DOUBLE) / 100.0, 6) AS mean_bal,
       |  round(CAST(i1.m - $Shift AS DOUBLE) / 100.0, 6) AS huber_i1,
       |  round(CAST(i2.m - $Shift AS DOUBLE) / 100.0, 6) AS huber_i2,
       |  i2.dw AS n_downweighted
       |FROM m0 JOIN i1 ON m0.nk = i1.nk JOIN i2 ON m0.nk = i2.nk
       |JOIN nation n ON m0.nk = n.n_nationkey
       |ORDER BY nation""".stripMargin
  }
}
