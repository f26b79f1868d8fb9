package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Ann.{dotCol, dotSql}

/** Semantic (embedding-space) deduplication, SemDeDup-style —
  * SURVEY.md §2 item 119.
  *
  * The third dedup modality next to lexical (MinHash/SimHash) and
  * LSH-bucketed cosine ([[Ann.embedCosinePairs]]): cluster the corpus
  * with the IVF coarse quantizer ([[Ivf.trainCentroids]] — k-means is
  * the published SemDeDup blocking choice precisely because semantic
  * duplicates land in the same cell far more reliably than in a random
  * hyperplane bucket), then within each cluster mark every member that
  * has a MORE CENTRAL near-duplicate (pair cosine ≥ θ) as a duplicate
  * of its best such neighbor. "More central" = higher cosine to the
  * shared centroid, ties to the lower vec_id — so each dense semantic
  * neighborhood keeps exactly its most prototypical member, and the
  * decision is a deterministic total order (no iteration, unlike
  * connected components; a chain a→b→c resolves greedily per member,
  * the documented SemDeDup behavior).
  *
  * Scale shape: centroid training + assignment are the linear
  * broadcast-centroid scans of §2.73; the only pair work is the
  * in-cluster self-join — candidates O(n · n/K) with K chosen so
  * n/K stays constant as n grows (the same blocking law as LSH
  * buckets/chunks; SemDeDup at 5 B docs uses K ≈ 10⁵ for exactly this
  * reason). A hot cluster is genuine semantic mass: its pair output is
  * itself dense, and AQE skew-split divides the join work. Centrality
  * and pair cosines are 6 dp-rounded IEEE doubles, identical in the
  * DuckDB oracle's replay of the full deterministic k-means.
  */
object SemDedup {

  /** Duplicate threshold. Random 64-dim unit vectors have cosine noise
    * σ ≈ 1/√64 = 0.125, so θ must sit WELL above 2σ or noise reads as
    * duplication — measured at sf1: θ = 0.25 (2σ) dropped 19,968 of
    * 20,000 vectors, every 625-member cell holding ~14 above-noise
    * neighbors. θ = 0.4 is 3.2σ (p ≈ 7·10⁻⁴ per random pair): a thin
    * genuine tail qualifies at every SF (the corpus embeddings carry no
    * planted ≥0.5 pairs — max measured cosine 0.51 at sf0.01), keeping
    * the operator demonstrably non-vacuous while dropping only the
    * closest pairs. The θ-vs-dimension coupling (θ ≳ 3σ = 3/√d) is the
    * tuning every SemDeDup deployment documents. */
  val MinCos = 0.4

  /** Cluster-count sizing rule — the blocking law (§5): the in-cluster
    * self-join generates O(Σ|cell|²) candidates, so cells must stay
    * CONSTANT-sized as the corpus grows: K = ⌈n / targetCell⌉, total
    * pair work O(n · targetCell) — linear. Floors at [[Ivf.K]], which
    * makes the rule coincide with the DuckDB oracle's pinned K = 8 at
    * the oracle SF (n = 500 → K = 8), the same fixed-vs-scaled
    * coupling [[Ann.planesFor]] documents for LSH planes. At true
    * corpus scale the O(n·K) assignment scan itself outgrows brute
    * force — a deployment then assigns via a coarse ANN over the
    * centroids (hierarchical k-means), changing nothing downstream. */
  val TargetCell = 625
  /** Pure-integer ceil — the [[Ann.initPlanesFor]] discipline: a float
    * ceil can disagree with an oracle replay by one at exact-multiple
    * boundaries, and one k is a completely different quantizer. */
  def kFor(n: Long, targetCell: Int = TargetCell): Int =
    math.max(Ivf.K, ((n + targetCell - 1) / targetCell).toInt)

  /** Lloyd-training subsample stride: cap the training set at
    * max(5000, 50·K) vectors (≥50 points per centroid, the FAISS
    * band), full set below the cap — so the oracle SF (n = 500)
    * always trains on everything and replays exactly, while the
    * per-round Lloyd cost at scale is O(cap·K), not O(n·K). The
    * corpus-wide assignment stays one exact O(n·K) pass (its
    * deployment-scale successor is an ANN lookup over the centroids —
    * hierarchical k-means — which changes blocking quality only,
    * never pair correctness). */
  def strideFor(n: Long, k: Int): Long =
    math.max(1L, n / math.max(5000L, 50L * k))

  /** §2.119 per-vector semantic-dedup verdicts:
    * (vec_id, cid, cent_cos, is_dup, dup_of, dup_cos), ordered by id.
    * `dup_of` = the most central qualifying neighbor (cent_cos desc,
    * vec_id asc) among in-cluster members more central than this one;
    * null ⇒ this member is kept. */
  def semanticDedup(embeddings: DataFrame, minCos: Double = MinCos): DataFrame = {
    // one widening pass (lazy checkpoint) shared by the Lloyd-round
    // jobs, the assignment, and both self-join sides
    val v = graft.Barrier("semdedup.vecs", Ivf.vecsD(embeddings))
    // one metadata-cheap count (tiny-stat class) drives the K rule
    val n = embeddings.count()
    val k = kFor(n)
    val cent = Ivf.trainCentroidsV(v, k = k,
      trainStride = strideFor(n, k))
    val wc = Ivf.assignNearest(v, cent)
      .join(broadcast(cent), "cid")
      .withColumn("cent_cos",
        round(dotCol(col("e"), col("ce")) / (col("nrm") * col("cn")), 6))
      .select("cid", "vec_id", "e", "nrm", "cent_cos")
    val a = wc.select(col("cid"), col("vec_id").as("id_a"), col("e").as("ea"),
      col("nrm").as("na"), col("cent_cos").as("ca"))
    val b = wc.select(col("cid"), col("vec_id").as("id_b"), col("e").as("eb"),
      col("nrm").as("nb"), col("cent_cos").as("cb"))
    // qualifying deferrals: b strictly outranks a in the centrality order
    val best = a.join(b, Seq("cid"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(struct(col("cb"), -col("id_b")) > struct(col("ca"), -col("id_a")))
      .withColumn("cosine",
        round(dotCol(col("ea"), col("eb")) / (col("na") * col("nb")), 6))
      .filter(col("cosine") >= minCos)
      .groupBy("id_a")
      .agg(max_by(struct(col("id_b"), col("cosine")),
        struct(col("cb"), -col("id_b"))).as("m"))
      .select(col("id_a").as("vec_id"), col("m.id_b").as("dup_of"),
        col("m.cosine").as("dup_cos"))
    wc.join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("cent_cos"),
        col("dup_of").isNotNull.as("is_dup"), col("dup_of"), col("dup_cos"))
      .orderBy("vec_id")
  }

  /** Oracle replay through [[Ivf.lloydPrefixSqlDynamic]] — the k/stride
    * rules recomputed from count(*) inside the SQL, so the oracle
    * trains THE SAME quantizer as the Scala path at every SF (the
    * static prefix's pinned K = 8 only coincides at the oracle SF —
    * the r11 sf1 gate failure). */
  def semanticDedupSql(minCos: Double = MinCos): String = {
    val (prefix, fin) = Ivf.lloydPrefixSqlDynamic()
    s"""WITH $prefix,
       |wc AS (SELECT a.cid, a.vec_id, a.e, a.nrm,
       |    round(${dotSql("a.e", "c.ce")} / (a.nrm * c.cn), 6) AS cent_cos
       |  FROM assigned a JOIN $fin c ON a.cid = c.cid),
       |prs AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b, y.cent_cos AS cb,
       |    round(${dotSql("x.e", "y.e")} / (x.nrm * y.nrm), 6) AS cosine
       |  FROM wc x JOIN wc y ON x.cid = y.cid AND x.vec_id != y.vec_id
       |  WHERE (y.cent_cos > x.cent_cos
       |         OR (y.cent_cos = x.cent_cos AND y.vec_id < x.vec_id))
       |    AND round(${dotSql("x.e", "y.e")} / (x.nrm * y.nrm), 6) >= $minCos),
       |best AS (SELECT id_a, id_b AS dup_of, cosine AS dup_cos FROM (
       |  SELECT id_a, id_b, cosine,
       |    row_number() OVER (PARTITION BY id_a ORDER BY cb DESC, id_b) AS rk
       |  FROM prs) t WHERE rk = 1)
       |SELECT w.vec_id, w.cid, w.cent_cos,
       |  b.dup_of IS NOT NULL AS is_dup, b.dup_of, b.dup_cos
       |FROM wc w LEFT JOIN best b ON w.vec_id = b.id_a
       |ORDER BY w.vec_id""".stripMargin
  }
}
