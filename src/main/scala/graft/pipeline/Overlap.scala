package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.Dedup

/** Cross-source shingle-overlap matrix — SURVEY.md §2.252.
  *
  * Corpus-mixture design (§2.75) weights sources assuming they bring
  * DIFFERENT text; two crawls of the same sites bring the same
  * shingles twice. The pairwise overlap matrix is the diversity audit
  * behind mixture weights — and the between-SOURCE complement of the
  * between-document dedup family (§2.22–24): doc-level dedup can't
  * see that two sources are 60% redundant in aggregate.
  */
object Overlap {

  /** §2.252 `source_overlap`: for every source pair — shared distinct
    * 3-shingle count, Jaccard overlap of shingle vocabularies, and
    * containment (shared / smaller vocabulary).
    *
    * Scale shape: one compiled shingle pass (the §2.21 kernel), ONE
    * distinct to the (source, shingle) grain, then the inverted-index
    * candidate join keyed on the shingle — pairs per shingle bounded
    * by C(sources, 2), the §2.153 posting-list argument with sources
    * (dozens) in place of docs, so the join output is
    * shingle-vocab × pairs-bounded, never corpus². Both
    * data-proportional joins pinned shuffle_hash (small-SF stats
    * would flip them to broadcasts that can't survive a real shingle
    * vocabulary — the §6 round-5 trap class).
    *
    * Determinism: integer set sizes; two divisions per pair row. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // ss feeds the per-source sizes AND the pair self-join (different
    // downstream keys) — one tokenize+shingle+distinct pass (r13)
    val ss = graft.Barrier("overlap.shingles",
      Dedup.shingleHashes(docs.select(col("doc_id"), col("text")))
        .hint("shuffle_hash")
        .join(docs.select("doc_id", "source"), "doc_id")
        .select(col("source"), explode(col("sh")).as("g"))
        .distinct())
    val sizes = ss.groupBy("source").agg(count(lit(1)).as("nv"))
    val pairs = ss.as("a").hint("shuffle_hash")
      .join(ss.as("b"), col("a.g") === col("b.g") &&
        col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcast(sizes.withColumnRenamed("source", "src_a")
        .withColumnRenamed("nv", "nv_a")), Seq("src_a"))
      .join(broadcast(sizes.withColumnRenamed("source", "src_b")
        .withColumnRenamed("nv", "nv_b")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("inter"),
        col("nv_a"), col("nv_b"),
        round(col("inter").cast("double") /
          (col("nv_a") + col("nv_b") - col("inter")), 6).as("jaccard"),
        round(col("inter").cast("double") /
          least(col("nv_a"), col("nv_b")), 6).as("containment"))
      .orderBy("src_a", "src_b")
  }

  val sourceOverlapSql: String = {
    import graft.text.TextFunctions.{tokenHashesSql, shingleHashCombineSql}
    s"""WITH toks AS (SELECT doc_id, ${tokenHashesSql("text")} AS th
       |  FROM documents),
       |grams AS (SELECT doc_id, ${shingleHashCombineSql("th", 3)} AS sh
       |  FROM toks),
       |ss AS (SELECT DISTINCT d.source, u.g
       |  FROM (SELECT doc_id, unnest(sh) AS g FROM grams
       |        WHERE len(sh) > 0) u
       |  JOIN documents d USING (doc_id)),
       |sizes AS (SELECT source, count(*) AS nv FROM ss GROUP BY 1),
       |pairs AS (SELECT a.source AS src_a, b.source AS src_b,
       |    count(*) AS inter
       |  FROM ss a JOIN ss b ON a.g = b.g AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT src_a, src_b, inter, sa.nv AS nv_a, sb.nv AS nv_b,
       |  round(CAST(inter AS DOUBLE) / (sa.nv + sb.nv - inter), 6)
       |    AS jaccard,
       |  round(CAST(inter AS DOUBLE) / LEAST(sa.nv, sb.nv), 6)
       |    AS containment
       |FROM pairs
       |JOIN sizes sa ON pairs.src_a = sa.source
       |JOIN sizes sb ON pairs.src_b = sb.source
       |ORDER BY src_a, src_b""".stripMargin
  }
}
