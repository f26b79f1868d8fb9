package graft.dq

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Concentration and assignment-health audits — SURVEY.md §2.257/259.
  */
object Concentration {

  /** §2.257 `hhi_report`: Herfindahl–Hirschman concentration index
    * per dimension — documents by source, orders by customer, and
    * lineitem revenue by brand. HHI = Σ shareᵢ² ∈ (1/n, 1]; the
    * normalized form rescales to [0, 1]. The "is this corpus/market
    * dominated by a few heads" number — for corpora it is the
    * concentration guard §2.75's mixture weights assume away, for
    * revenue the dependency-risk KPI.
    *
    * Scale shape: per dimension ONE map-side-combined groupBy to the
    * group grain, then one aggregate over the bounded group frame.
    *
    * Determinism: HHI = Σnᵢ²/N² with Σnᵢ² an exact
    * DECIMAL(38,0)/HUGEINT (revenue cents squared overflows int64 —
    * the §2.223 rule), so the only float op is one division. */
  def hhiReport(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    def one(dim: String, grouped: DataFrame): DataFrame = {
      // grouped: (grp, w) with integer weight w
      grouped.agg(count(lit(1)).as("n_groups"),
        sum(col("w").cast(dec)).as("tot"),
        sum((col("w").cast(dec) * col("w").cast(dec)).cast(dec)).as("sq"))
        .select(lit(dim).as("dim"), col("n_groups"),
          col("tot").cast("long").as("total_weight"),
          round(col("sq").cast("double") /
            (col("tot").cast("double") * col("tot").cast("double")), 6)
            .as("hhi"))
    }
    val docs = one("documents_by_source",
      Tables.documents(spark, dir).groupBy(col("source").as("grp"))
        .agg(count(lit(1)).as("w")))
    val ords = one("orders_by_customer",
      Tables.orders(spark, dir).groupBy(col("o_custkey").as("grp"))
        .agg(count(lit(1)).as("w")))
    val rev = one("revenue_by_brand",
      Tables.lineitem(spark, dir)
        .join(Tables.part(spark, dir),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("grp"))
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("w")))
    docs.unionAll(ords).unionAll(rev)
      .withColumn("hhi_normalized",
        round(try_divide(col("hhi") - lit(1.0) / col("n_groups"),
          lit(1.0) - lit(1.0) / col("n_groups")), 6))
      .orderBy("dim")
  }

  val hhiReportSql: String = {
    def one(dim: String, sub: String): String =
      s"""SELECT '$dim' AS dim, count(*) AS n_groups,
         |    CAST(sum(w) AS BIGINT) AS total_weight,
         |    round(CAST(sum(CAST(w AS HUGEINT) * w) AS DOUBLE)
         |      / (CAST(sum(w) AS DOUBLE) * CAST(sum(w) AS DOUBLE)), 6)
         |      AS hhi
         |  FROM ($sub) g""".stripMargin
    s"""WITH per AS (
       |${one("documents_by_source",
            "SELECT source AS grp, count(*) AS w FROM documents GROUP BY 1")}
       |UNION ALL
       |${one("orders_by_customer",
            "SELECT o_custkey AS grp, count(*) AS w FROM orders GROUP BY 1")}
       |UNION ALL
       |${one("revenue_by_brand",
            "SELECT p_brand AS grp, CAST(sum(CAST(round(l_extendedprice " +
              "* 100, 0) AS BIGINT)) AS BIGINT) AS w FROM lineitem " +
              "JOIN part ON l_partkey = p_partkey GROUP BY 1")})
       |SELECT dim, n_groups, total_weight, hhi,
       |  round((hhi - 1.0 / n_groups) / (1.0 - 1.0 / n_groups), 6)
       |    AS hhi_normalized
       |FROM per ORDER BY dim""".stripMargin
  }

  /** §2.259 `srm_check`: per-day sample-ratio-mismatch audit of the
    * §2.170 A/B assignment — the experimentation-platform tripwire
    * (Fabijan et al. 2019): if the 50/50 user split drifts on any
    * day, every downstream test (§2.170/228/254) is invalid. Per
    * day: distinct users per arm and the binomial z against 0.5;
    * |z| > 3 flags. Reported for ALL days (the audit artifact), with
    * the flag column carrying the alarm.
    *
    * Determinism: integer distinct counts; z one fixed expression. */
  def srmCheck(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    ud.groupBy("day")
      .agg(sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("user_id") % 2 =!= 0, 1L).otherwise(0L)).as("n_b"))
      .withColumn("n", col("n_a") + col("n_b"))
      .select(col("day").cast("timestamp").as("day"),
        col("n_a"), col("n_b"),
        round((col("n_a").cast("double") - col("n").cast("double") * 0.5) /
          sqrt(col("n").cast("double") * 0.25), 4).as("z"),
        (abs((col("n_a").cast("double") - col("n").cast("double") * 0.5) /
          sqrt(col("n").cast("double") * 0.25)) > 3.0).as("srm_flag"))
      .orderBy("day")
  }

  val srmCheckSql: String =
    """WITH ud AS (SELECT DISTINCT
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id
      |  FROM events),
      |per AS (SELECT day,
      |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_b
      |  FROM ud GROUP BY 1)
      |SELECT CAST(day AS TIMESTAMP) AS day, n_a, n_b,
      |  round((CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) * 0.5)
      |    / sqrt(CAST(n_a + n_b AS DOUBLE) * 0.25), 4) AS z,
      |  abs((CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) * 0.5)
      |    / sqrt(CAST(n_a + n_b AS DOUBLE) * 0.25)) > 3.0 AS srm_flag
      |FROM per ORDER BY day""".stripMargin
}
