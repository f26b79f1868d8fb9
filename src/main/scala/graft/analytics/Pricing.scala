package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Price–demand diagnostics — SURVEY.md §2.242.
  *
  * The classic retail question the reference's BI layer stops short
  * of: does demand fall as price rises, and how fast, per brand? A
  * per-brand OLS of units sold on catalog price is the first-order
  * demand curve (the log-log variant would give elasticity proper,
  * but logs of doubles are libm-dependent across engines — the slope
  * in units-per-dollar carries the same sign/ranking information
  * with exact-integer moments).
  */
object Pricing {

  /** §2.242 `demand_curve`: per brand — part count, units sold, OLS
    * slope (units per DOLLAR of catalog price) and Pearson r of
    * per-part units-sold on part price. Parts with no sales count as
    * zero-demand points (a curve fitted only to sellers is
    * survivorship-biased).
    *
    * Scale shape: ONE map-side-combined groupBy collapses lineitem to
    * the part grain, a part-keyed join attaches price/brand (both
    * sides part-sized; at catalog scale this is the dimension join
    * AQE broadcasts), then a second groupBy to the brand grain.
    *
    * Determinism: units are exact integers, price is exact cents, and
    * every moment (Σx, Σy, Σxy, Σx², Σy²) sums as DECIMAL(38,0) /
    * HUGEINT — exact at any corpus size and immune to summation
    * order (the §2.223 discipline). Slope and r are fixed-sequence
    * doubles of those integers, rounded once. */
  def demandCurve(spark: SparkSession, dir: String): DataFrame = {
    val perPart = Tables.lineitem(spark, dir)
      .groupBy("l_partkey")
      .agg(sum(col("l_quantity").cast("long")).as("units"))
    val pts = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"),
        round(col("p_retailprice") * 100, 0).cast("long").as("cents"))
      .join(perPart.withColumnRenamed("l_partkey", "p_partkey"),
        Seq("p_partkey"), "left")
      .select(col("p_brand"), col("cents"),
        coalesce(col("units"), lit(0L)).as("units"))
    val dec = "decimal(38,0)"
    val m = pts.groupBy("p_brand").agg(
      count(lit(1)).as("n_parts"),
      sum(col("units").cast(dec)).as("sy"),
      sum(col("cents").cast(dec)).as("sx"),
      sum((col("cents").cast(dec) * col("units").cast(dec)).cast(dec)).as("sxy"),
      sum((col("cents").cast(dec) * col("cents").cast(dec)).cast(dec)).as("sxx"),
      sum((col("units").cast(dec) * col("units").cast(dec)).cast(dec)).as("syy"))
    val n = col("n_parts").cast("double")
    def d(c: String) = col(c).cast("double")
    m.select(col("p_brand"), col("n_parts"),
      col("sy").cast("long").as("units_total"),
      round(try_divide(n * d("sxy") - d("sx") * d("sy"),
        n * d("sxx") - d("sx") * d("sx")) * 100.0, 6)
        .as("slope_units_per_dollar"),
      round(try_divide(n * d("sxy") - d("sx") * d("sy"),
        sqrt((n * d("sxx") - d("sx") * d("sx")) *
          (n * d("syy") - d("sy") * d("sy")))), 6).as("pearson_r"))
      .orderBy("p_brand")
  }

  val demandCurveSql: String =
    """WITH perpart AS (SELECT l_partkey,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS units
      |  FROM lineitem GROUP BY 1),
      |pts AS (SELECT p.p_brand,
      |    CAST(round(p.p_retailprice * 100, 0) AS BIGINT) AS cents,
      |    COALESCE(s.units, 0) AS units
      |  FROM part p LEFT JOIN perpart s ON p.p_partkey = s.l_partkey),
      |m AS (SELECT p_brand, count(*) AS n_parts,
      |    sum(CAST(units AS HUGEINT)) AS sy,
      |    sum(CAST(cents AS HUGEINT)) AS sx,
      |    sum(CAST(cents AS HUGEINT) * units) AS sxy,
      |    sum(CAST(cents AS HUGEINT) * cents) AS sxx,
      |    sum(CAST(units AS HUGEINT) * units) AS syy
      |  FROM pts GROUP BY 1)
      |SELECT p_brand, n_parts, CAST(sy AS BIGINT) AS units_total,
      |  round((CAST(n_parts AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (CAST(n_parts AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 100.0, 6)
      |    AS slope_units_per_dollar,
      |  round((CAST(n_parts AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / sqrt((CAST(n_parts AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * (CAST(n_parts AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS pearson_r
      |FROM m ORDER BY p_brand""".stripMargin
}
