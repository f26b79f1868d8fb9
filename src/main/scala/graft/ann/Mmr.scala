package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import Ann.{dotCol, dotSql, normSql}

/** Maximal Marginal Relevance re-ranking — SURVEY.md §2.351.
  *
  * Every ANN path (§2.26/27/73/112/120/147/333) returns the k MOST
  * similar items — which for retrieval-augmented generation and
  * dedup-aware sampling is exactly wrong when the top-k are
  * near-duplicates of each other. MMR (Carbonell & Goldstein, SIGIR
  * 1998) is the standard fix: greedily select argmax λ·rel(c) −
  * (1−λ)·max_{s∈S} sim(c, s) — relevance DISCOUNTED by redundancy
  * against what's already picked. λ = 0.7, k = [[K]] from a
  * [[CandK]]-candidate pool.
  *
  * Determinism: relevances and pairwise sims are pre-rounded e6
  * integers, and with λ = 0.7 the objective is the pure-integer
  * score = 7·rel_e6 − 3·maxsim_e6 (×10 scale) — argmax over exact
  * Longs, ties on vec_id ASC. The greedy loop runs a FIXED [[K]]
  * rounds, so both engines unroll it statically: the Spark side as a
  * fixed Scala loop over bounded frames (the §2.73 Lloyd pattern),
  * the oracle as [[K]] chained CTE blocks (the §2.90 BPE-round
  * pattern) — no recursion, each round one windowed argmax.
  *
  * Scale shape: the ONLY corpus-sized stage is the candidate scan
  * (nq broadcast queries × corpus, the §2.26 shape — at scale the
  * pool comes from any ANN path instead); everything after runs on
  * the nq·[[CandK]]-row pool and its bounded pairwise-sim frame
  * (nq·C² ≤ 12.5 k rows). Selection rounds are windowed argmaxes
  * over that pool — never the corpus. */
object Mmr {

  val K = 10
  val CandK = 50
  /** λ numerator/denominator out of 10 (λ = 0.7). */
  val LamX10 = 7L

  /** §2.351 `mmr_diversify`: per query the K MMR-selected candidates
    * in pick order, with relevance, redundancy, and the score. */
  def mmrDiversify(spark: SparkSession, dir: String, nq: Int = 5): DataFrame = {
    val v = Ivf.vecsD(Tables.embeddings(spark, dir))
    val q = v.filter(col("vec_id") < nq).limit(nq)
      .select(col("vec_id").as("q_id"), col("e").as("qe"),
        col("nrm").as("qn"))
    val scored = graft.Barrier("mmr.candidates", v.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("rel_e6",
        round(dotCol(col("qe"), col("e")) / (col("qn") * col("nrm"))
          * 1e6, 0).cast("long"))
      .withColumn("crk", row_number().over(Window.partitionBy("q_id")
        .orderBy(desc("rel_e6"), asc("vec_id"))))
      .filter(col("crk") <= CandK)
      .select("q_id", "vec_id", "rel_e6", "e", "nrm"))
    val sims = scored.select(col("q_id"), col("vec_id").as("ca"),
        col("e").as("ea"), col("nrm").as("na"))
      .join(scored.select(col("q_id"), col("vec_id").as("cb"),
        col("e").as("eb"), col("nrm").as("nb")), Seq("q_id"))
      .filter(col("ca") =!= col("cb"))
      .select(col("q_id"), col("ca"), col("cb"),
        round(dotCol(col("ea"), col("eb")) / (col("na") * col("nb"))
          * 1e6, 0).cast("long").as("sim_e6"))
    // The K selection rounds operate on frames BOUNDED BY CONSTANTS at
    // ANY corpus size — nq·CandK candidates and nq·CandK·(CandK−1)
    // pairwise sims (only the candidate scan above is corpus-sized) —
    // so the greedy runs as a driver loop over the collected pool (the
    // audited bounded-frame collect class: centroids, bucket keys)
    // instead of K unrolled distributed rounds, which cost ~40 tiny
    // shuffle stages of pure scheduling overhead at every scale.
    // Scores are exact Longs (7·rel_e6 − 3·ms_e6), so the driver argmax
    // with the (score DESC, vec_id ASC) tie-break reproduces the
    // windowed argmax bit-for-bit.
    val candRows = cand_collect(scored)
    val simMap = sims.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .groupBy(_._1).map { case (k, vs) =>
        k -> vs.map(_._2).toMap // (q_id, ca) -> (cb -> sim_e6)
      }
    val picks = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Long, Long, Long)]
    candRows.groupBy(_._1).toSeq.foreach { case (q, cs) =>
      val rel = cs.map(c => c._2 -> c._3).toMap
      var selectedIds = List.empty[Long]
      var remaining = cs.map(_._2).toSet
      for (r <- 1 to K if remaining.nonEmpty) {
        val scoredRound = remaining.toSeq.map { c =>
          val simsOfC = simMap.getOrElse((q, c), Map.empty[Long, Long])
          val ms = if (selectedIds.isEmpty) 0L
            else selectedIds.map(s => simsOfC.getOrElse(s, 0L)).max
          val score = LamX10 * rel(c) - (10L - LamX10) * ms
          (c, ms, score)
        }
        val (c, ms, score) = scoredRound.minBy { case (c, _, s) => (-s, c) }
        picks += ((q, c, r, rel(c), ms, score))
        selectedIds ::= c
        remaining -= c
      }
    }
    import spark.implicits._
    picks.toSeq.toDF("q_id", "vec_id", "rk", "rel_e6", "ms_e6", "score_x10e6")
      .select(col("q_id"), col("rk"), col("vec_id"),
        round(col("rel_e6").cast("double") / 1e6, 6).as("relevance"),
        round(col("ms_e6").cast("double") / 1e6, 6).as("max_sim_selected"),
        col("score_x10e6"))
      .orderBy("q_id", "rk")
  }

  /** Collect the bounded (q_id, vec_id, rel_e6) candidate pool. */
  private def cand_collect(scored: DataFrame): Seq[(Long, Long, Long)] =
    scored.select("q_id", "vec_id", "rel_e6").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  def mmrDiversifySql(nq: Int = 5): String = {
    def roundSql(r: Int): String = {
      val prev = s"sel_${r - 1}"
      s"""msr_$r AS MATERIALIZED (SELECT s.q_id, s.ca, max(s.sim_e6) AS ms_raw
         |  FROM sims s JOIN $prev p ON p.q_id = s.q_id AND p.vec_id = s.cb
         |  GROUP BY s.q_id, s.ca),
         |ms_$r AS (SELECT c.q_id, c.vec_id, c.rel_e6,
         |    COALESCE(m.ms_raw, 0) AS ms_e6
         |  FROM cand c LEFT JOIN msr_$r m
         |    ON m.q_id = c.q_id AND m.ca = c.vec_id
         |  WHERE NOT EXISTS (SELECT 1 FROM $prev p
         |    WHERE p.q_id = c.q_id AND p.vec_id = c.vec_id)),
         |pick_$r AS (SELECT q_id, vec_id, $r AS rk, rel_e6, ms_e6,
         |    $LamX10 * rel_e6 - ${10 - LamX10} * ms_e6 AS score_x10e6
         |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY $LamX10 * rel_e6 - ${10 - LamX10} * ms_e6 DESC,
         |      vec_id ASC) AS rn FROM ms_$r) t WHERE rn = 1),
         |sel_$r AS MATERIALIZED (
         |  SELECT q_id, vec_id, rk, rel_e6, ms_e6, score_x10e6
         |  FROM sel_${r - 1}
         |  UNION ALL SELECT * FROM pick_$r)""".stripMargin
    }
    val rounds = (1 to K).map(roundSql).mkString(",\n")
    s"""WITH v AS MATERIALIZED (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
       |    ${normSql("list_transform(embedding, x -> CAST(x AS DOUBLE))")} AS nrm
       |  FROM embeddings),
       |qs AS (SELECT vec_id AS q_id, e AS qe, nrm AS qn FROM v
       |  WHERE vec_id < $nq),
       |cand AS MATERIALIZED (SELECT q_id, vec_id, rel_e6, e, nrm FROM (
       |    SELECT q.q_id, s.vec_id, s.e, s.nrm,
       |      CAST(round(1e6 * ${dotSql("q.qe", "s.e")}
       |        / (q.qn * s.nrm)) AS BIGINT) AS rel_e6,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY
       |        CAST(round(1e6 * ${dotSql("q.qe", "s.e")}
       |          / (q.qn * s.nrm)) AS BIGINT) DESC, s.vec_id ASC) AS crk
       |    FROM qs q JOIN v s ON s.vec_id != q.q_id) t
       |  WHERE crk <= $CandK),
       |sims AS MATERIALIZED (SELECT a.q_id, a.vec_id AS ca, b.vec_id AS cb,
       |    CAST(round(1e6 * ${dotSql("a.e", "b.e")} / (a.nrm * b.nrm))
       |      AS BIGINT) AS sim_e6
       |  FROM cand a JOIN cand b ON a.q_id = b.q_id
       |    AND a.vec_id != b.vec_id),
       |sel_0 AS (SELECT q_id, vec_id, 0 AS rk, rel_e6,
       |    CAST(0 AS BIGINT) AS ms_e6, CAST(0 AS BIGINT) AS score_x10e6
       |  FROM cand WHERE false),
       |$rounds
       |SELECT q_id, rk, vec_id,
       |  round(CAST(rel_e6 AS DOUBLE) / 1e6, 6) AS relevance,
       |  round(CAST(ms_e6 AS DOUBLE) / 1e6, 6) AS max_sim_selected,
       |  CAST(score_x10e6 AS BIGINT) AS score_x10e6
       |FROM sel_$K ORDER BY q_id, rk""".stripMargin
  }
}
