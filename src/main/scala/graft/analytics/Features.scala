package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Categorical feature engineering — SURVEY.md §2.227. */
object Features {

  /** Smoothing pseudo-count m: the encoding of a category with n ≪ m
    * rows shrinks toward the global prior (the standard empirical-
    * Bayes guard against small-category overfit). */
  val SmoothM = 20L

  /** §2.227 `target_encode`: smoothed mean-target encoding of the
    * customer market segment against order revenue — the categorical
    * feature builder gradient models consume (raw one-hot explodes at
    * high cardinality; the mean-target encoding compresses a category
    * to one informative float). Per category: n, raw mean target,
    * smoothed encoding (n·mean + m·prior)/(n + m), and the
    * leave-one-out encoding spread sd(y)/(n−1) — the quantity that
    * says how much any single row can move its own feature value (the
    * LOO leakage-risk gauge; enc_i = (S−y_i)/(n−1) is affine in y_i,
    * so its sd needs no per-row second pass).
    *
    * Scale shape: broadcast dim join (orders ⋈ customer segment),
    * then ONE map-side-combined groupBy to ≤|segments| cells carrying
    * exact integer moments — n, Σcents (BIGINT), Σcents²
    * (DECIMAL(38,0)/HUGEINT, the §2.223 overflow-proof sum); the
    * prior re-aggregates the cell frame. Every reported float is a
    * fixed-sequence expression of those identical integers. */
  def targetEncode(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val joined = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("category"))), "o_custkey")
    val cells = joined.groupBy("category").agg(
      count(lit(1)).as("n"),
      sum("cents").as("s"),
      sum((col("cents").cast(dec) * col("cents").cast(dec)).cast(dec))
        .as("s2"))
    val prior = cells.agg(sum("n").as("nt"), sum("s").as("st"))
    def d(c: String) = col(c).cast("double")
    cells.crossJoin(broadcast(prior))
      .withColumn("mean_target", d("s") / 100.0 / col("n"))
      .withColumn("prior", d("st") / 100.0 / col("nt"))
      .withColumn("sd_target",
        sqrt(try_divide(d("s2") - d("s") * d("s") / col("n"), col("n") - 1))
          / 100.0)
      .select(col("category"), col("n"),
        round(col("mean_target"), 4).as("mean_target"),
        round((col("mean_target") * col("n") + col("prior") * SmoothM) /
          (col("n") + SmoothM), 4).as("smoothed_enc"),
        round(col("sd_target") / (col("n") - 1), 6).as("loo_sd"))
      .orderBy("category")
  }

  val targetEncodeSql: String =
    s"""WITH j AS (SELECT c.c_mktsegment AS category,
       |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
       |cells AS (SELECT category, count(*) AS n,
       |    CAST(sum(cents) AS BIGINT) AS s,
       |    sum(CAST(cents AS HUGEINT) * cents) AS s2
       |  FROM j GROUP BY 1),
       |p AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
       |    CAST(sum(s) AS BIGINT) AS st FROM cells),
       |x AS (SELECT category, n,
       |    CAST(s AS DOUBLE) / 100.0 / n AS mean_target,
       |    CAST(st AS DOUBLE) / 100.0 / nt AS prior,
       |    sqrt((CAST(s2 AS DOUBLE)
       |        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1))
       |      / 100.0 AS sd_target
       |  FROM cells CROSS JOIN p)
       |SELECT category, n, round(mean_target, 4) AS mean_target,
       |  round((mean_target * n + prior * $SmoothM) / (n + $SmoothM), 4)
       |    AS smoothed_enc,
       |  round(sd_target / (n - 1), 6) AS loo_sd
       |FROM x ORDER BY category""".stripMargin

  /** §2.231 `mi_matrix`: mutual information + normalized MI between
    * categorical column pairs across three tables — the feature-
    * redundancy report (χ² §2.140 tests dependence; MI QUANTIFIES the
    * shared bits, the number feature selection actually ranks by).
    * H(X) + H(Y) − H(X,Y) with H = ln N − Σc·ln(c)/N — every log
    * argument an exact integer (the §2.95 convention; cell frames are
    * category²-bounded, so the float sums carry ≤ 1e-10 of noise into
    * a 6 dp rounding).
    *
    * Scale shape: per pair ONE map-side-combined groupBy to the
    * |X|·|Y| cell frame; margins and entropies re-aggregate the cells
    * — three corpus scans total (one per table), nothing else sized
    * by the data. */
  def miMatrix(spark: SparkSession, dir: String): DataFrame = {
    def mi(df: DataFrame, pair: String): DataFrame = {
      val cells = df.toDF("x", "y").groupBy("x", "y")
        .agg(count(lit(1)).as("c"))
      val n = col("n").cast("double")
      def hTerm(cnt: Column) = cnt.cast("double") * log(cnt.cast("double"))
      val agg = cells.agg(
        sum("c").as("n"),
        sum(hTerm(col("c"))).as("sxy"))
      val mx = cells.groupBy("x").agg(sum("c").as("cx"))
        .agg(sum(hTerm(col("cx"))).as("sx"), count(lit(1)).as("nx"))
      val my = cells.groupBy("y").agg(sum("c").as("cy"))
        .agg(sum(hTerm(col("cy"))).as("sy"), count(lit(1)).as("ny"))
      agg.crossJoin(mx).crossJoin(my)
        .withColumn("hx", log(n) - col("sx") / n)
        .withColumn("hy", log(n) - col("sy") / n)
        .withColumn("hxy", log(n) - col("sxy") / n)
        .withColumn("mi", col("hx") + col("hy") - col("hxy"))
        .select(lit(pair).as("pair"), col("n").cast("long").as("n"),
          col("nx").as("card_x"), col("ny").as("card_y"),
          round(col("hx"), 6).as("h_x"), round(col("hy"), 6).as("h_y"),
          round(col("mi"), 6).as("mi"),
          round(try_divide(col("mi"), sqrt(col("hx") * col("hy"))), 6).as("nmi"))
    }
    val cust = Tables.customer(spark, dir)
      .select(col("c_nationkey").cast("string"), col("c_mktsegment"))
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), dayofweek(col("ts")).cast("string"))
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_orderstatus"))
    mi(cust, "nation|segment")
      .unionAll(mi(ev, "event_type|dow"))
      .unionAll(mi(ord, "priority|status"))
      .orderBy("pair")
  }

  val miMatrixSql: String = {
    def block(tag: String, pair: String, xExpr: String, yExpr: String,
        table: String): String =
      s"""c_$tag AS (SELECT $xExpr AS x, $yExpr AS y, count(*) AS c
         |  FROM $table GROUP BY 1, 2),
         |a_$tag AS (SELECT CAST(sum(c) AS BIGINT) AS n,
         |    sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS sxy
         |  FROM c_$tag),
         |mx_$tag AS (SELECT sum(CAST(cx AS DOUBLE) * ln(CAST(cx AS DOUBLE)))
         |      AS sx, count(*) AS nx
         |  FROM (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM c_$tag
         |        GROUP BY 1) t),
         |my_$tag AS (SELECT sum(CAST(cy AS DOUBLE) * ln(CAST(cy AS DOUBLE)))
         |      AS sy, count(*) AS ny
         |  FROM (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM c_$tag
         |        GROUP BY 1) t),
         |r_$tag AS (SELECT '$pair' AS pair, n, nx AS card_x, ny AS card_y,
         |    round(ln(CAST(n AS DOUBLE)) - sx / n, 6) AS h_x,
         |    round(ln(CAST(n AS DOUBLE)) - sy / n, 6) AS h_y,
         |    round((ln(CAST(n AS DOUBLE)) - sx / n)
         |      + (ln(CAST(n AS DOUBLE)) - sy / n)
         |      - (ln(CAST(n AS DOUBLE)) - sxy / n), 6) AS mi,
         |    round(((ln(CAST(n AS DOUBLE)) - sx / n)
         |        + (ln(CAST(n AS DOUBLE)) - sy / n)
         |        - (ln(CAST(n AS DOUBLE)) - sxy / n))
         |      / sqrt((ln(CAST(n AS DOUBLE)) - sx / n)
         |        * (ln(CAST(n AS DOUBLE)) - sy / n)), 6) AS nmi
         |  FROM a_$tag CROSS JOIN mx_$tag CROSS JOIN my_$tag)""".stripMargin
    s"""WITH ${block("c", "nation|segment",
        "CAST(c_nationkey AS VARCHAR)", "c_mktsegment", "customer")},
       |${block("e", "event_type|dow",
        "event_type", "CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS VARCHAR)",
        "events")},
       |${block("o", "priority|status",
        "o_orderpriority", "o_orderstatus", "orders")}
       |SELECT * FROM r_c UNION ALL SELECT * FROM r_e
       |UNION ALL SELECT * FROM r_o ORDER BY pair""".stripMargin
  }
}
