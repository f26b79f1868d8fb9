package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import Ann.{dotCol, dotSql, normCol, normSql}

/** §2.130 margin-based bitext mining — the cross-lingual
  * parallel-corpus construction op (the CCMatrix/LASER recipe): for
  * every source-language document, find the target-language document
  * whose embedding is closest not in ABSOLUTE cosine but in cosine
  * relative to each side's nearest-neighbor density
  * (Artetxe & Schwenk's ratio margin). Absolute-threshold mining fails
  * because hubness makes some vectors near everything; dividing by the
  * mean of each side's top-k cosines cancels the hub term, and a pair
  * is kept only when it stands OUT of both neighborhoods
  * (margin ≥ θ > 1).
  *
  *   margin(x, y) = cos(x, y) / ((knnAvg(x) + knnAvg(y)) / 2)
  *
  * Candidate generation is IVF-BLOCKED, not brute force (the published
  * systems mine billions of pairs exactly this way — margin over
  * approximate neighbor lists): the corpus coarse quantizer
  * ([[Ivf.trainCentroids]], K per [[SemDedup.kFor]]'s constant-cell
  * law) assigns the target side to inverted lists once, each source
  * vector probes its [[Ivf.NProbe]] nearest cells, and ONLY probed
  * (src, tgt) cell pairs are scored — candidates O(n·nprobe·cell),
  * linear as the corpus grows, vs the O(n²) dense product (measured
  * 71 s → ~3 s at sf1). Both kNN averages and the ranking read the
  * SAME candidate table, so the margin arithmetic never needs a score
  * the blocking didn't produce. A tgt is assigned to exactly one cell
  * and probes are distinct, so candidate pairs are already distinct —
  * no dedup shuffle. Language tags live on `documents`, vectors on
  * `embeddings` (vec_id = doc_id) — one equi-join per side; rank-then-
  * aggregate on 6 dp-rounded cosines keeps both engines' doubles
  * aligned. The DuckDB oracle replays the identical deterministic
  * k-means via the shared [[Ivf.lloydPrefixSqlDynamic]] chain, whose
  * k/stride rules are recomputed from count(*) inside the SQL — the
  * oracle trains the same quantizer at EVERY SF, not only where
  * [[SemDedup.kFor]] floors at [[Ivf.K]].
  */
object Bitext {

  val SrcLang = "en"
  val TgtLang = "de"
  val KnnK = 4
  val MarginMin = 1.02

  /** (id, qe/e, qn/nrm) vectors of one language side. */
  private def side(spark: SparkSession, dir: String, v: DataFrame,
      lang: String, id: String, e: String, n: String): DataFrame =
    Tables.documents(spark, dir).filter(col("lang") === lang)
      .select(col("doc_id").as(id))
      .join(v.withColumnRenamed("vec_id", id), Seq(id))
      .select(col(id), col("e").as(e), col("nrm").as(n))

  /** Margin mining over an arbitrary (src_id, tgt_id, cos) candidate
    * table — factored so the spec can verify the margin arithmetic
    * against brute force independently of the blocking. */
  private[graft] def mineFromScores(scored: DataFrame): DataFrame = {
    val wx = Window.partitionBy("src_id").orderBy(desc("cos"), asc("tgt_id"))
    val wy = Window.partitionBy("tgt_id").orderBy(desc("cos"), asc("src_id"))
    val knnX = scored.withColumn("rk", row_number().over(wx))
      .filter(col("rk") <= KnnK)
      .groupBy("src_id").agg(avg("cos").as("kx"))
    val knnY = scored.withColumn("rk", row_number().over(wy))
      .filter(col("rk") <= KnnK)
      .groupBy("tgt_id").agg(avg("cos").as("ky"))
    val margins = scored
      .join(knnX, Seq("src_id")).join(knnY, Seq("tgt_id"))
      .withColumn("margin",
        round(col("cos") / ((col("kx") + col("ky")) / 2.0), 6))
    val wbest = Window.partitionBy("src_id")
      .orderBy(desc("margin"), asc("tgt_id"))
    margins.withColumn("rk", row_number().over(wbest))
      .filter(col("rk") === 1 && col("margin") >= MarginMin)
      .select(col("src_id"), col("tgt_id"), col("cos").as("cosine"),
        col("margin"))
      .orderBy("src_id")
  }

  /** The IVF-blocked (src_id, tgt_id, cos) candidate table — factored
    * out so the sf1 invariant checker can verify the mining output
    * against the exact candidate set. */
  private[graft] def scoredCandidates(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val k = SemDedup.kFor(n)
    // one widening pass (lazy checkpoint) shared by the Lloyd-round
    // jobs and both language sides
    val v = graft.Barrier("bitext.vecs", Ivf.vecsD(emb))
    val cent = Ivf.trainCentroidsV(v, k = k,
      trainStride = SemDedup.strideFor(n, k))
    val src = side(spark, dir, v, SrcLang, "q_id", "qe", "qn")
    val tgt = side(spark, dir, v, TgtLang, "tgt_id", "e", "nrm")
    val probes = Ivf.probeFor(src, cent)
    val tgtLists = Ivf.assignNearest(tgt.withColumnRenamed("tgt_id", "vec_id"),
      cent).withColumnRenamed("vec_id", "tgt_id")
    tgtLists.join(probes, Seq("cid"))
      .select(col("q_id").as("src_id"), col("tgt_id"),
        round(dotCol(col("qe"), col("e")) / (col("qn") * col("nrm")), 6)
          .as("cos"))
  }

  /** Best target per source doc by ratio margin, margin ≥ θ, among
    * IVF-blocked candidates. */
  def bitextMine(spark: SparkSession, dir: String): DataFrame =
    // barrier: mineFromScores reads the candidate table three times
    // (both kNN averages + the margin join) — without it the whole IVF
    // chain (probe + assign + score) re-ran 3x (60 Exchanges / 24
    // parquet scans in the compiled plan)
    mineFromScores(graft.Barrier("bitext.candidates", scoredCandidates(spark, dir)))

  val bitextMineSql: String = {
    // dynamic prefix: k/stride recomputed from count(*) in SQL — the
    // oracle must train the SAME quantizer as the Scala kFor/strideFor
    // path at every SF, not just where kFor floors at Ivf.K
    val (prefix, fin) = Ivf.lloydPrefixSqlDynamic()
    s"""WITH $prefix,
       |src AS (SELECT v.vec_id AS src_id, v.e AS qe, v.nrm AS qn
       |  FROM documents d JOIN v ON v.vec_id = d.doc_id
       |  WHERE d.lang = '$SrcLang'),
       |probes AS (SELECT src_id, qe, qn, cid FROM (
       |  SELECT s.src_id, s.qe, s.qn, c.cid,
       |    row_number() OVER (PARTITION BY s.src_id
       |      ORDER BY ${dotSql("s.qe", "c.ce")} / (s.qn * c.cn) DESC, c.cid) AS prk
       |  FROM src s CROSS JOIN $fin c) t WHERE prk <= ${Ivf.NProbe}),
       |tgt AS (SELECT a.vec_id AS tgt_id, a.cid, a.e AS te, a.nrm AS tn
       |  FROM documents d JOIN assigned a ON a.vec_id = d.doc_id
       |  WHERE d.lang = '$TgtLang'),
       |scored AS (SELECT p.src_id, t.tgt_id,
       |    round(${dotSql("p.qe", "t.te")} / (p.qn * t.tn), 6) AS cos
       |  FROM tgt t JOIN probes p ON t.cid = p.cid),
       |knnx AS (SELECT src_id, avg(cos) AS kx FROM (
       |    SELECT src_id, cos, row_number() OVER (PARTITION BY src_id
       |      ORDER BY cos DESC, tgt_id) AS rk FROM scored) t
       |  WHERE rk <= $KnnK GROUP BY src_id),
       |knny AS (SELECT tgt_id, avg(cos) AS ky FROM (
       |    SELECT tgt_id, cos, row_number() OVER (PARTITION BY tgt_id
       |      ORDER BY cos DESC, src_id) AS rk FROM scored) t
       |  WHERE rk <= $KnnK GROUP BY tgt_id),
       |margins AS (SELECT src_id, tgt_id, cos,
       |    round(cos / ((kx + ky) / 2.0), 6) AS margin
       |  FROM scored JOIN knnx USING (src_id) JOIN knny USING (tgt_id))
       |SELECT src_id, tgt_id, cos AS cosine, margin FROM (
       |  SELECT src_id, tgt_id, cos, margin,
       |    row_number() OVER (PARTITION BY src_id
       |      ORDER BY margin DESC, tgt_id) AS rk
       |  FROM margins) t
       |WHERE rk = 1 AND margin >= $MarginMin
       |ORDER BY src_id""".stripMargin
  }
}
