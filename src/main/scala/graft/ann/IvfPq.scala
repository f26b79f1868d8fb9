package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Ann.{dotCol, dotSql}

/** IVF-PQ ANN — SURVEY.md §2 item 147: product quantization on top of
  * the §2.73 inverted-file coarse quantizer (Jégou, Douze & Schmid,
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011) —
  * the rung of the ANN compression ladder after §2.120's SQ8.
  *
  * Why it matters at 100 TB: a float32 64-dim embedding is 256 bytes;
  * its PQ code is M = 4 bytes (one code per 16-dim subspace, 16
  * centroids each) — a 64× smaller scan payload, and candidate scoring
  * reads ONLY codes plus an O(nq·M·KSub) lookup table. The full
  * vectors are touched once at index-build time; the query-time scan
  * is pure integer codes + table adds, which is what makes
  * billion-vector serving fit in RAM.
  *
  * Everything is deterministic so the DuckDB oracle replays it
  * end-to-end: sub-codebooks initialize from the first [[KSub]]
  * vectors' subvectors, Lloyd rounds are fixed-count with components
  * rounded to 6 dp (absorbs cross-engine mean-summation noise — the
  * §2.73 convention), assignment minimizes the L2 surrogate
  * cc − 2·(sub·ce) with ties to the lowest code, and the M per-subspace
  * ADC terms are summed in EXPLICIT subspace order (one conditional
  * aggregate per m, added left-to-right) because a float `sum()` over
  * shuffled rows has engine-dependent order.
  *
  * Scale design: sub-codebook training joins the n·M subvector rows
  * against a BROADCAST M·KSub codebook (64 rows) per Lloyd round —
  * linear scans, map-side-combinable mergeable-VectorMean means, tiny
  * collect (M·KSub·SubDim doubles). Query-time: the LUT (nq·M·KSub
  * partial dots) is computed on the nq-row query frame and broadcast;
  * candidates come from the §2.73 probe table (nprobe of K cells), so
  * the only corpus-sized work is one hash join of probed-cell members
  * to their codes and a map-side-combined (q_id, vec_id) aggregation
  * of M rows each. No full-vector arithmetic per candidate anywhere.
  */
object IvfPq {

  /** Subspace count; Dim = 64 splits into M×16. One byte per subspace
    * at KSub ≤ 256 — the canonical PQ layout. */
  val M = 4
  val SubDim = 16
  val KSub = 16
  val PqIters = 2

  require(M * SubDim == Ivf.Dim, s"M*SubDim must cover Dim=${Ivf.Dim}")

  /** (vec_id, m, sub): the M 16-dim subvectors of each vector —
    * `slice` is codegen'd, the explode stays narrow (M structs). */
  private[graft] def subVecs(v: DataFrame): DataFrame = {
    val ms = (0 until M).map(m => struct(lit(m).as("m"),
      slice(col("e"), m * SubDim + 1, SubDim).as("sub")))
    v.select(col("vec_id"), explode(array(ms: _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sub").as("sub"))
  }

  /** Nearest-code assignment per (vector, subspace): minimize the L2
    * surrogate d2 = ‖c‖² − 2·(sub·c) (the ‖sub‖² term is constant per
    * row), ties to the lowest code — max_by over (−d2, −code), the
    * §2.73 argmax-without-a-sort shape. `cb` is (m, code, ce, cc),
    * M·KSub rows, broadcast. */
  private[graft] def assignCodes(sv: DataFrame, cb: DataFrame): DataFrame =
    sv.join(broadcast(cb), Seq("m"))
      .withColumn("d2", col("cc") - lit(2.0) * dotCol(col("sub"), col("ce")))
      .groupBy("vec_id", "m")
      .agg(max_by(struct(col("code"), col("sub")),
        struct(-col("d2"), -col("code"))).as("best"))
      .select(col("vec_id"), col("m"),
        col("best.code").as("code"), col("best.sub").as("sub"))

  /** Train the M sub-codebooks together: ONE frame keyed (m, code), so
    * all subspaces share each Lloyd round's single scan + broadcast
    * join instead of M sequential trainings. Init = subvectors of the
    * first [[KSub]] vectors. Returns (m, code, ce, cc). */
  def trainCodebook(v: DataFrame, iters: Int = PqIters): DataFrame =
    trainCodebookSv(subVecs(v), iters)

  /** [[trainCodebook]] over an already-built subvector frame (shared
    * with encoding by the caller). Bit-identical math. */
  private[graft] def trainCodebookSv(sv: DataFrame,
      iters: Int = PqIters): DataFrame = {
    val spark = sv.sparkSession
    import spark.implicits._
    var cb = sv.filter(col("vec_id") < KSub)
      .select(col("m"), col("vec_id").as("code"), col("sub").as("ce"))
      .withColumn("cc", dotCol(col("ce"), col("ce")))
    for (_ <- 0 until iters) {
      val rows = assignCodes(sv, cb)
        .groupBy("m", "code")
        .agg(graft.functions.VectorMean.vector_mean(col("sub"), 6).as("ce"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
      cb = rows.toSeq.toDF("m", "code", "ce")
        .withColumn("cc", dotCol(col("ce"), col("ce")))
    }
    cb
  }

  /** §2.147 IVF-PQ top-k: coarse-probe the §2.73 inverted lists, score
    * candidates by asymmetric distance computation (ADC) — the query's
    * exact subvectors against each candidate's CODES via the broadcast
    * LUT; approximate cosine = Σₘ (qsubₘ·ce[m,codeₘ]) / (‖q‖·‖recon‖),
    * with ‖recon‖² = Σₘ ‖ce[m,codeₘ]‖². Both sums add their 4 terms in
    * fixed subspace order for cross-engine bit-parity. */
  def ivfPqTopK(embeddings: DataFrame, nq: Int = 5, k: Int = 10): DataFrame = {
    // one widening pass (lazy checkpoint) shared by the coarse Lloyd
    // jobs, the PQ sub-Lloyd jobs, assignment, encoding, and queries;
    // likewise one subvector explode for training + encoding
    val v = graft.Barrier("ivfpq.vecs", Ivf.vecsD(embeddings))
    val cent = Ivf.trainCentroidsV(v)
    val assigned = Ivf.assignNearest(v, cent)
    val sv = graft.Barrier("ivfpq.subvecs", subVecs(v))
    val cb = trainCodebookSv(sv)
    val codes = assignCodes(sv, cb).drop("sub")
    val q = v.filter(col("vec_id") < nq)
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("nrm").as("qn"))
    val qs = q.select(col("q_id"), explode(array((0 until M).map(m =>
        struct(lit(m).as("m"),
          slice(col("qe"), m * SubDim + 1, SubDim).as("qsub"))): _*)).as("s"))
      .select(col("q_id"), col("s.m").as("m"), col("s.qsub").as("qsub"))
    val lut = qs.join(broadcast(cb), Seq("m"))
      .select(col("q_id"), col("m"), col("code"),
        dotCol(col("qsub"), col("ce")).as("pd"), col("cc"))
    val probes = Ivf.probeTable(v, cent, nq)
    val cand = assigned.join(broadcast(probes.select("q_id", "cid", "qn")), Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id", "qn")
    def only(m: Int, c: String) = sum(when(col("m") === m, col(c)))
    val parts = (0 until M).flatMap(m =>
      Seq(only(m, "pd").as(s"pd$m"), only(m, "cc").as(s"cc$m")))
    val ad = (1 until M).foldLeft(col("pd0"))((a, m) => a + col(s"pd$m"))
    val r2 = (1 until M).foldLeft(col("cc0"))((a, m) => a + col(s"cc$m"))
    val w = Window.partitionBy("q_id").orderBy(desc("pq_cosine"), asc("vec_id"))
    cand.join(codes, Seq("vec_id"))
      .join(broadcast(lut), Seq("q_id", "m", "code"))
      .groupBy("q_id", "vec_id", "qn")
      .agg(parts.head, parts.tail: _*)
      .withColumn("pq_cosine", round(ad / (col("qn") * sqrt(r2)), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("q_id", "rk", "vec_id", "pq_cosine")
      .orderBy("q_id", "rk")
  }

  /** DuckDB replay: shares [[Ivf.lloydPrefixSql]] (coarse quantizer +
    * inverted lists), then the PQ chain — subvector rows, [[PqIters]]
    * sub-Lloyd rounds over the (m, code) grain, encoding, LUT, probes,
    * and the fixed-order ADC sum. */
  def ivfPqTopKSql(nq: Int = 5, k: Int = 10): String = {
    val (prefix, fin) = Ivf.lloydPrefixSql
    def sub(e: String) = s"$e[m * $SubDim + 1 : m * $SubDim + $SubDim]"
    // one PQ Lloyd round: codebook CTE `cPrev` -> assignment -> mean
    def roundSql(cPrev: String, aName: String, cName: String): String =
      s"""$aName AS (SELECT vec_id, m, code, sub FROM (
         |  SELECT s.vec_id, s.m, c.code, s.sub,
         |    row_number() OVER (PARTITION BY s.vec_id, s.m
         |      ORDER BY c.cc - 2.0 * ${dotSql("s.sub", "c.ce")}, c.code) AS rk
         |  FROM sv s JOIN $cPrev c ON s.m = c.m) t WHERE rk = 1),
         |$cName AS (SELECT m, code,
         |    list_transform(ss, s -> CAST((CASE WHEN s >= 0
         |      THEN (2 * s + n) // (2 * n)
         |      ELSE -((2 * -s + n) // (2 * n)) END) AS DOUBLE)
         |      / 1000000.0) AS ce
         |  FROM (SELECT m, code, n,
         |      list_transform(generate_series(1, $SubDim),
         |        j -> list_sum(list_transform(subs,
         |          x -> CAST(floor(x[j] * 1000000.0 + 0.5) AS BIGINT)))) AS ss
         |    FROM (SELECT m, code, list(sub ORDER BY vec_id) AS subs, count(*) AS n
         |          FROM $aName GROUP BY m, code) g0) g),
         |${cName}n AS (SELECT m, code, ce, ${dotSql("ce", "ce")} AS cc FROM $cName)""".stripMargin
    val rounds = (0 until PqIters).map { i =>
      roundSql(if (i == 0) "pb0n" else s"pb${i}n", s"pa$i", s"pb${i + 1}")
    }.mkString(",\n")
    val pfin = s"pb${PqIters}n"
    val pdSum = (0 until M).map(m => s"pd$m").mkString(" + ")
    val ccSum = (0 until M).map(m => s"cc$m").mkString(" + ")
    val condCols = (0 until M).flatMap(m => Seq(
      s"sum(CASE WHEN l.m = $m THEN l.pd END) AS pd$m",
      s"sum(CASE WHEN l.m = $m THEN l.cc END) AS cc$m")).mkString(",\n    ")
    s"""WITH $prefix,
       |sv AS (SELECT vec_id, m, ${sub("e")} AS sub
       |  FROM v, unnest(generate_series(0, ${M - 1})) AS t(m)),
       |pb0 AS (SELECT m, vec_id AS code, sub AS ce FROM sv WHERE vec_id < $KSub),
       |pb0n AS (SELECT m, code, ce, ${dotSql("ce", "ce")} AS cc FROM pb0),
       |$rounds,
       |codes AS (SELECT vec_id, m, code FROM (
       |  SELECT s.vec_id, s.m, c.code,
       |    row_number() OVER (PARTITION BY s.vec_id, s.m
       |      ORDER BY c.cc - 2.0 * ${dotSql("s.sub", "c.ce")}, c.code) AS rk
       |  FROM sv s JOIN $pfin c ON s.m = c.m) t WHERE rk = 1),
       |q AS (SELECT vec_id AS q_id, e AS qe, nrm AS qn FROM v WHERE vec_id < $nq),
       |qs AS (SELECT q_id, m, ${sub("qe")} AS qsub
       |  FROM q, unnest(generate_series(0, ${M - 1})) AS t(m)),
       |lut AS (SELECT qs.q_id, qs.m, c.code,
       |    ${dotSql("qs.qsub", "c.ce")} AS pd, c.cc
       |  FROM qs JOIN $pfin c ON qs.m = c.m),
       |probes AS (SELECT q_id, qn, cid FROM (
       |  SELECT v.vec_id AS q_id, v.nrm AS qn, c.cid,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${dotSql("v.e", "c.ce")} / (v.nrm * c.cn) DESC, c.cid) AS prk
       |  FROM v CROSS JOIN $fin c WHERE v.vec_id < $nq) t WHERE prk <= ${Ivf.NProbe}),
       |cand AS (SELECT p.q_id, a.vec_id, p.qn
       |  FROM assigned a JOIN probes p ON a.cid = p.cid
       |  WHERE a.vec_id != p.q_id),
       |scored AS (SELECT cd.q_id, cd.vec_id, cd.qn,
       |    $condCols
       |  FROM cand cd JOIN codes k ON cd.vec_id = k.vec_id
       |    JOIN lut l ON l.q_id = cd.q_id AND l.m = k.m AND l.code = k.code
       |  GROUP BY cd.q_id, cd.vec_id, cd.qn)
       |SELECT q_id, rk, vec_id, pq_cosine FROM (
       |  SELECT q_id, vec_id,
       |    round(($pdSum) / (qn * sqrt($ccSum)), 6) AS pq_cosine,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY round(($pdSum) / (qn * sqrt($ccSum)), 6) DESC, vec_id) AS rk
       |  FROM scored) t
       |WHERE rk <= $k ORDER BY q_id, rk""".stripMargin
  }
}
