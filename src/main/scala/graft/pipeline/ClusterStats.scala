package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Duplicate-cluster reporting — SURVEY.md §2.267–268.
  *
  * The dedup family (§2.21–24, 39, 68) FINDS clusters; these report
  * what was found — the size spectrum (how much of the corpus sits in
  * how-big duplicate groups) and whether duplication correlates with
  * quality (crawl dups skew toward boilerplate: if dup docs score
  * systematically lower, dedup doubles as a quality filter, and the
  * keep-best rule §2.97 has real headroom).
  */
object ClusterStats {

  /** §2.267 `cluster_size_dist`: histogram of near-dup cluster sizes
    * — clusters and docs per size, and each size's share of the
    * corpus. The "how duplicated is this crawl" one-pager
    * (§2.199 gives dup-rate per source; this gives the shape).
    *
    * Scale shape: on the persisted label table (§2.97's argument)
    * this is two bounded groupBys; here the labels derive from the
    * cached §2.39 propagation. Integers end-to-end but one share
    * division. */
  def clusterSizeDist(spark: SparkSession, dir: String): DataFrame = {
    val labels = Pipeline.dedupClustersCached(spark, dir)
      .select("doc_id", "cluster_id")
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
    val dist = sizes.groupBy("sz").agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("sz") * col("n_clusters"))
    dist.crossJoin(broadcast(dist.agg(sum("n_docs").as("tot"))))
      .select(col("sz").as("cluster_size"), col("n_clusters"),
        col("n_docs"),
        round(col("n_docs").cast("double") / col("tot"), 6).as("doc_share"))
      .orderBy("cluster_size")
  }

  val clusterSizeDistSql: String =
    s"""WITH c AS (SELECT doc_id, cluster_id
       |  FROM (${Pipeline.dedupClustersSql}) t),
       |sizes AS (SELECT cluster_id, count(*) AS sz FROM c GROUP BY 1),
       |dist AS (SELECT sz, count(*) AS n_clusters,
       |    CAST(sz * count(*) AS BIGINT) AS n_docs
       |  FROM sizes GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tot FROM dist)
       |SELECT CAST(sz AS BIGINT) AS cluster_size, n_clusters, n_docs,
       |  round(CAST(n_docs AS DOUBLE) / tot, 6) AS doc_share
       |FROM dist CROSS JOIN tot ORDER BY cluster_size""".stripMargin

  /** §2.268 `quality_dup_bias`: does duplicated content score lower?
    * Docs in clusters of size ≥ 2 vs singletons: group means of the
    * §2.29 quality score and the point-biserial correlation
    * r_pb = (m̄₁ − m̄₀)/s · √(n₁n₀)/n (population s).
    *
    * Determinism: the quality score is already on a 6 dp grid, so it
    * scales LOSSLESSLY to integer micro-units — all moments are
    * exact integer sums (Σq² as DECIMAL(38,0)/HUGEINT), and the
    * reported floats are one fixed expression of identical integers
    * (the §2.185 integer-ten-thousandths rule at e6). */
  def qualityDupBias(spark: SparkSession, dir: String): DataFrame = {
    val labels = Pipeline.dedupClustersCached(spark, dir)
      .select("doc_id", "cluster_id")
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
    val q = graft.text.TextQueries.textQuality(spark, dir)
      .select(col("doc_id"),
        round(col("quality_score") * 1e6, 0).cast("long").as("q6"))
    val dec = "decimal(38,0)"
    val m = labels.join(sizes, "cluster_id").join(q, "doc_id")
      .withColumn("dup", (col("sz") >= 2).cast("int"))
      .agg(count(lit(1)).as("n"),
        sum("dup").as("n1"),
        sum(when(col("dup") === 1, col("q6")).otherwise(0L)).as("s1"),
        sum("q6").as("s"),
        sum((col("q6").cast(dec) * col("q6").cast(dec)).cast(dec)).as("s2"))
    val n = col("n").cast("double")
    val n1 = col("n1").cast("double")
    val n0 = n - n1
    val m1 = try_divide(col("s1").cast("double"), n1)
    val m0 = try_divide((col("s") - col("s1")).cast("double"), n0)
    val sd = sqrt(col("s2").cast("double") / n -
      (col("s").cast("double") / n) * (col("s").cast("double") / n))
    m.select(col("n").as("n_docs"), col("n1").as("n_dup_docs"),
      round(m1 / 1e6, 6).as("mean_q_dup"),
      round(m0 / 1e6, 6).as("mean_q_unique"),
      round((m1 - m0) / 1e6, 6).as("diff"),
      round((m1 - m0) / sd * sqrt(n1 * n0) / n, 6).as("r_pb"))
  }

  val qualityDupBiasSql: String =
    s"""WITH c AS (SELECT doc_id, cluster_id
       |  FROM (${Pipeline.dedupClustersSql}) t),
       |sizes AS (SELECT cluster_id, count(*) AS sz FROM c GROUP BY 1),
       |q AS (SELECT doc_id,
       |    CAST(round(quality_score * 1e6, 0) AS BIGINT) AS q6
       |  FROM (${graft.text.TextQueries.textQualitySql}) t),
       |j AS (SELECT CASE WHEN s.sz >= 2 THEN 1 ELSE 0 END AS dup, q.q6
       |  FROM c JOIN sizes s ON c.cluster_id = s.cluster_id
       |  JOIN q ON c.doc_id = q.doc_id),
       |m AS (SELECT count(*) AS n, CAST(sum(dup) AS BIGINT) AS n1,
       |    CAST(sum(CASE WHEN dup = 1 THEN q6 ELSE 0 END) AS BIGINT) AS s1,
       |    CAST(sum(q6) AS BIGINT) AS s,
       |    sum(CAST(q6 AS HUGEINT) * q6) AS s2
       |  FROM j)
       |SELECT n AS n_docs, n1 AS n_dup_docs,
       |  round((CAST(s1 AS DOUBLE) / n1) / 1e6, 6) AS mean_q_dup,
       |  round(((CAST(s AS DOUBLE) - CAST(s1 AS DOUBLE)) / (n - n1)) / 1e6, 6)
       |    AS mean_q_unique,
       |  round((CAST(s1 AS DOUBLE) / n1
       |    - (CAST(s AS DOUBLE) - CAST(s1 AS DOUBLE)) / (n - n1)) / 1e6, 6)
       |    AS diff,
       |  round((CAST(s1 AS DOUBLE) / n1
       |      - (CAST(s AS DOUBLE) - CAST(s1 AS DOUBLE)) / (n - n1))
       |    / sqrt(CAST(s2 AS DOUBLE) / n
       |      - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
       |    * sqrt(CAST(n1 AS DOUBLE) * (n - n1)) / n, 6) AS r_pb
       |FROM m""".stripMargin
}
