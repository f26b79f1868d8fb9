package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Ann.{dotCol, dotSql, normCol, normSql}

/** IVF (inverted-file) ANN — SURVEY.md §2 item 73.
  *
  * The second classic ANN scale path next to hyperplane LSH
  * ([[Ann.lshTopK]]): k-means-cluster the corpus once (the "coarse
  * quantizer"), store vectors in per-centroid inverted lists, and at
  * query time search only the `nprobe` lists whose centroids are
  * nearest the query — candidates drop from O(n) to O(n·nprobe/k).
  *
  * Everything is deterministic so the DuckDB oracle can replay it:
  * centroids initialize from the first K vectors by `vec_id`, Lloyd
  * iterations are fixed-count, assignment ties break to the lowest
  * centroid id, and each updated centroid component is rounded to 6 dp
  * — the rounding also squashes the ~1e-13 cross-engine noise from
  * different float-summation orders in the mean, so all downstream
  * cosines are bit-identical IEEE doubles in both engines.
  *
  * Scale design: one crossJoin-with-broadcast-centroids scan per Lloyd
  * iteration (K rows broadcast, linear in corpus size; the K×dim
  * centroid table is collected driver-side per iteration — O(K·dim)
  * doubles, the same tiny-stat shape as Silver's medians). Probing
  * joins the (tiny, broadcast) query×probe table against the
  * hash-partitioned assignment — no shuffle of the vector side beyond
  * the final per-query top-k window over candidate rows.
  */
object Ivf {

  val K = 8
  val Iters = 2
  val NProbe = 2
  val Dim = 64

  /** vectors with double-cast embedding + norm (shared shape; the
    * widening is the compiled ToDoubleArray kernel — exact, and off
    * the interpreted-HOF path the corpus scans every Lloyd round). */
  private[graft] def vecsD(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"),
      graft.functions.native.to_double_array(col("embedding")).as("e"))
      .withColumn("nrm", normCol(col("e")))

  /** Argmax assignment without a sort: `max_by` over the (cos, −cid)
    * struct is a partial-aggregable groupBy — same deterministic
    * tie-break as `ORDER BY cos DESC, cid` (struct compare: highest
    * cos, then highest −cid = lowest cid) but one partial-agg shuffle
    * instead of a sort+window pass. The oracle keeps its row_number
    * form; the semantics are identical. */
  private[graft] def assignNearest(v: DataFrame, cent: DataFrame): DataFrame =
    v.crossJoin(broadcast(cent))
      .withColumn("cos", dotCol(col("e"), col("ce")) / (col("nrm") * col("cn")))
      .groupBy("vec_id")
      .agg(max_by(struct(col("cid"), col("e"), col("nrm")),
        struct(col("cos"), -col("cid"))).as("best"))
      .select(col("vec_id"), col("best.cid").as("cid"),
        col("best.e").as("e"), col("best.nrm").as("nrm"))

  /** One Lloyd round: assign every vector to its nearest centroid by
    * cosine (ties → lowest cid), then mean each cluster element-wise.
    * The mean is EXACT: components quantize to e6 integers
    * (floor(x·10⁶ + 0.5)) summed in Long, so the result is identical
    * under ANY partial-aggregation order — the r11 sf1 gate caught
    * order-dependent float sums flipping a 6 dp digit once clusters
    * reach sf1 size, which cascades through every later round.
    * `cent` is (cid, ce, cn) — small, broadcast. Returns the updated
    * centroid rows, collected.
    *
    * The mean is the mergeable [[graft.functions.VectorMean]]
    * aggregate — one O(dim)-state buffer per centroid, one aggregation
    * pass — replacing the posexplode(e) → groupBy(cid, pos) → avg →
    * collect_list reassembly, which materialized n×dim rows through
    * the aggregation hash map and needed a second shuffle to rebuild
    * the vectors. */
  private def lloydRound(v: DataFrame, cent: DataFrame): Array[(Long, Seq[Double])] = {
    assignNearest(v, cent).select(col("cid"), col("e"))
      .groupBy("cid")
      .agg(graft.functions.VectorMean.vector_mean(col("e"), 6).as("ce"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
  }

  private def centFrame(spark: SparkSession, rows: Array[(Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("cid", "ce").withColumn("cn", normCol(col("ce")))
  }

  /** Train the coarse quantizer: init = first `k` vectors, `Iters`
    * fixed Lloyd rounds. Returns the final centroid frame
    * (cid, ce, cn). `k` defaults to the oracle-pinned [[K]];
    * [[SemDedup]] passes its scaled count.
    *
    * `trainStride` > 1 trains on the deterministic vec_id % stride == 0
    * subsample — standard coarse-quantizer practice (FAISS trains on
    * 30–256 points per centroid): Lloyd cost drops from O(n·k) per
    * round to O(sample·k) while the centroids stay representative;
    * the full corpus still gets its one exact assignment pass.
    * Stride 1 (the default, and always the oracle-SF case) is
    * bit-identical to full training. Init filters WITHIN the sample so
    * the seed vectors are sample members. */
  def trainCentroids(embeddings: DataFrame, iters: Int = Iters,
      k: Int = K, trainStride: Long = 1): DataFrame =
    trainCentroidsV(vecsD(embeddings), iters, k, trainStride)

  /** [[trainCentroids]] over an already-built vecsD frame — callers
    * that reference the widened vectors many times (every Lloyd round
    * is a separate driver job) pass ONE lazily-checkpointed frame so
    * the parquet scan + float→double widening + norm runs once per
    * query instead of once per job. Bit-identical math. */
  private[graft] def trainCentroidsV(v: DataFrame, iters: Int = Iters,
      k: Int = K, trainStride: Long = 1): DataFrame = {
    val spark = v.sparkSession
    val t = if (trainStride <= 1) v else v.filter(col("vec_id") % trainStride === 0)
    var cent = t.filter(col("vec_id") < k.toLong * trainStride)
      .select(col("vec_id").as("cid"), col("e").as("ce"), col("nrm").as("cn"))
    for (_ <- 0 until iters)
      cent = centFrame(spark, lloydRound(t, cent))
    cent
  }

  /** §2.73 IVF top-k: probe the `NProbe` nearest inverted lists per
    * query vector (vec_id < nq), exact cosine within candidates. */
  /** Probe lists: the `NProbe` nearest centroids per query vector
    * (q_id, qe, qn, cid) — factored out so the sf1 invariant checker
    * (tools/InvariantCheck) can verify the reported top-k against the
    * exact candidate set of the probed cells. */
  private[graft] def probeTable(v: DataFrame, cent: DataFrame, nq: Int): DataFrame =
    probeFor(v.filter(col("vec_id") < nq)
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("nrm").as("qn")),
      cent)

  /** Probe lists for an arbitrary (q_id, qe, qn) query frame: the
    * `nprobe` nearest centroids per query — shared by [[ivfTopK]] and
    * [[Bitext]]'s blocked mining. */
  private[graft] def probeFor(q: DataFrame, cent: DataFrame,
      nprobe: Int = NProbe): DataFrame = {
    val pw = Window.partitionBy("q_id").orderBy(desc("qcos"), asc("cid"))
    q.crossJoin(broadcast(cent))
      .withColumn("qcos", dotCol(col("qe"), col("ce")) / (col("qn") * col("cn")))
      .withColumn("prk", row_number().over(pw))
      .filter(col("prk") <= nprobe)
      .select(col("q_id"), col("qe"), col("qn"), col("cid"))
  }

  def ivfTopK(embeddings: DataFrame, nq: Int = 5, k: Int = 10): DataFrame = {
    // one widening pass for the Lloyd-round jobs + assignment + probes
    val v = graft.Barrier("ivf.vecs", vecsD(embeddings))
    val cent = trainCentroidsV(v)
    // final assignment: every vector into exactly one inverted list
    val assigned = assignNearest(v, cent)
    // probe lists: nprobe nearest centroids per query
    val probes = probeTable(v, cent, nq)
    // search only the probed lists
    val sw = Window.partitionBy("q_id").orderBy(desc("cosine"), asc("vec_id"))
    assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine",
        round(dotCol(col("qe"), col("e")) / (col("qn") * col("nrm")), 6))
      .withColumn("rk", row_number().over(sw))
      .filter(col("rk") <= k)
      .select("q_id", "rk", "vec_id", "cosine")
      .orderBy("q_id", "rk")
  }

  /** The shared oracle-SQL prefix: vector widening, deterministic
    * k-means init + `Iters` Lloyd rounds, and the final `assigned`
    * inverted-list CTE. Returns (CTE body, final-centroid CTE name) so
    * both [[ivfTopKSql]] and [[SemDedup.semanticDedupSql]] replay the
    * SAME training. */
  private val vSql =
    s"""SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
       |    ${normSql("list_transform(embedding, x -> CAST(x AS DOUBLE))")} AS nrm
       |  FROM embeddings""".stripMargin

  // one Lloyd round over training CTE `src`: previous centroid CTE
  // `cPrev` -> assignment -> exact quantized mean (the VectorMean rule)
  private def roundSql(src: String, cPrev: String, aName: String,
      cName: String): String =
    s"""$aName AS (SELECT vec_id, cid, e FROM (
       |  SELECT v.vec_id, c.cid, v.e,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${dotSql("v.e", "c.ce")} / (v.nrm * c.cn) DESC, c.cid) AS rk
       |  FROM $src v CROSS JOIN $cPrev c) t WHERE rk = 1),
       |$cName AS (SELECT cid,
       |    list_transform(ss, s -> CAST((CASE WHEN s >= 0
       |      THEN (2 * s + n) // (2 * n)
       |      ELSE -((2 * -s + n) // (2 * n)) END) AS DOUBLE)
       |      / 1000000.0) AS ce
       |  FROM (SELECT cid, n,
       |      list_transform(generate_series(1, $Dim),
       |        j -> list_sum(list_transform(es,
       |          x -> CAST(floor(x[j] * 1000000.0 + 0.5) AS BIGINT)))) AS ss
       |    FROM (SELECT cid, list(e ORDER BY vec_id) AS es, count(*) AS n
       |          FROM $aName GROUP BY cid) g0) g),
       |${cName}n AS (SELECT cid, ce, ${normSql("ce")} AS cn FROM $cName)""".stripMargin

  private def assignedSql(fin: String): String =
    s"""assigned AS (SELECT vec_id, cid, e, nrm FROM (
       |  SELECT v.vec_id, c.cid, v.e, v.nrm,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${dotSql("v.e", "c.ce")} / (v.nrm * c.cn) DESC, c.cid) AS rk
       |  FROM v CROSS JOIN $fin c) t WHERE rk = 1)""".stripMargin

  private[graft] def lloydPrefixSql: (String, String) = {
    val rounds = (0 until Iters).map { i =>
      roundSql("v", if (i == 0) "c0n" else s"c${i}n", s"a$i", s"c${i + 1}")
    }.mkString(",\n")
    val fin = s"c${Iters}n"
    val body =
      s"""v AS ($vSql),
         |c0n AS (SELECT vec_id AS cid, e AS ce, nrm AS cn FROM v WHERE vec_id < $K),
         |$rounds,
         |${assignedSql(fin)}""".stripMargin
    (body, fin)
  }

  /** [[lloydPrefixSql]] with the K/stride rules computed FROM THE DATA
    * inside the SQL itself — the [[Ann.bucketSqlDynamic]] pattern. The
    * static prefix pins K = [[K]] and trains on every vector, which is
    * exactly [[trainCentroids]]'s default-arg behavior (ann_ivf /
    * ann_recall / ann_ivfpq / cluster_silhouette / corpus_mix_topic);
    * but [[SemDedup]] and [[Bitext]] size k by [[SemDedup.kFor]]'s
    * constant-cell law and subsample training by
    * [[SemDedup.strideFor]], so at any SF past the oracle's the two
    * engines trained DIFFERENT quantizers — the r11 sf1 gate failure.
    * Here `kp` replays kFor (pure-integer ceil) and strideFor from
    * count(*), `vt` is the strided training sample, init is the first
    * k sample members, and the final `assigned` pass still covers the
    * full corpus — line-for-line the Scala path at every SF. */
  private[graft] def lloydPrefixSqlDynamic(
      targetCell: Int = SemDedup.TargetCell): (String, String) = {
    val rounds = (0 until Iters).map { i =>
      roundSql("vt", if (i == 0) "c0n" else s"c${i}n", s"a$i", s"c${i + 1}")
    }.mkString(",\n")
    val fin = s"c${Iters}n"
    // MATERIALIZED: v feeds vt + assigned (+ consumers), vt feeds every
    // Lloyd round — unmaterialized, DuckDB re-inlines the widening scan
    // per reference (the ann_graph/mmr OOM class)
    val body =
      s"""v AS MATERIALIZED ($vSql),
         |kp AS (SELECT n, k,
         |    GREATEST(1, n // GREATEST(5000, 50 * k)) AS stride FROM (
         |  SELECT count(*) AS n,
         |    GREATEST($K, (count(*) + ${targetCell - 1}) // $targetCell) AS k
         |  FROM v) t),
         |vt AS MATERIALIZED (SELECT v.* FROM v, kp WHERE v.vec_id % kp.stride = 0),
         |c0n AS (SELECT vec_id AS cid, e AS ce, nrm AS cn FROM vt, kp
         |  WHERE vt.vec_id < kp.k * kp.stride),
         |$rounds,
         |${assignedSql(fin)}""".stripMargin
    (body, fin)
  }

  def ivfTopKSql(nq: Int = 5, k: Int = 10): String = {
    val (prefix, fin) = lloydPrefixSql
    s"""WITH $prefix,
       |probes AS (SELECT q_id, qe, qn, cid FROM (
       |  SELECT v.vec_id AS q_id, v.e AS qe, v.nrm AS qn, c.cid,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${dotSql("v.e", "c.ce")} / (v.nrm * c.cn) DESC, c.cid) AS prk
       |  FROM v CROSS JOIN $fin c WHERE v.vec_id < $nq) t WHERE prk <= $NProbe),
       |scored AS (SELECT p.q_id, a.vec_id,
       |    round(${dotSql("p.qe", "a.e")} / (p.qn * a.nrm), 6) AS cosine
       |  FROM assigned a JOIN probes p ON a.cid = p.cid
       |  WHERE a.vec_id != p.q_id)
       |SELECT q_id, rk, vec_id, cosine FROM (
       |  SELECT q_id, vec_id, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
       |  FROM scored) t
       |WHERE rk <= $k ORDER BY q_id, rk""".stripMargin
  }

  /** §2.232 `ann_recall`: recall@k of the IVF index against the exact
    * brute-force scan, AS AN ORACLE QUERY — the "measure, don't
    * guess" discipline (AnnRecallSpec measures on planted clusters;
    * this measures on the live corpus, which is what an index-tuning
    * job would watch before raising nprobe). Per query: hits = |IVF
    * top-k ∩ exact top-k|; plus the mean over the query set repeated
    * per row (bounded frame, one window).
    *
    * Scale shape: both arms are the existing §2.26/§2.73 plans (one
    * linear scan each, nq bounded); the intersection is a leftsemi
    * join on (q_id, vec_id) over two nq·k-row frames — nothing new
    * is data-sized. Counts are integers; recall = hits/k is one
    * division. */
  def annRecall(spark: SparkSession, dir: String,
      nq: Int = 5, k: Int = 10): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir)
    val ivf = ivfTopK(emb, nq, k).select("q_id", "vec_id")
    val brute = Ann.bruteForceTopK(emb, nq, k).select("q_id", "vec_id")
    val hits = ivf.join(brute, Seq("q_id", "vec_id"), "leftsemi")
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    val base = brute.groupBy("q_id").agg(count(lit(1)).as("n_exact"))
    val per = base.join(hits, Seq("q_id"), "left")
      .na.fill(0L, Seq("n_hits"))
      .withColumn("recall",
        round(col("n_hits").cast("double") / col("n_exact"), 6))
    per
      .withColumn("avg_recall", round(
        sum("n_hits").over(Window.partitionBy(lit(1))).cast("double") /
          sum("n_exact").over(Window.partitionBy(lit(1))), 6))
      .select("q_id", "n_hits", "n_exact", "recall", "avg_recall")
      .orderBy("q_id")
  }

  def annRecallSql(nq: Int = 5, k: Int = 10): String =
    s"""WITH ivf AS (${ivfTopKSql(nq, k)}),
       |brute AS (${Ann.bruteForceTopKSql(nq, k)}),
       |hits AS (SELECT b.q_id, count(i.vec_id) AS n_hits,
       |    count(*) AS n_exact
       |  FROM brute b LEFT JOIN ivf i
       |    ON i.q_id = b.q_id AND i.vec_id = b.vec_id
       |  GROUP BY 1)
       |SELECT q_id, CAST(n_hits AS BIGINT) AS n_hits,
       |  CAST(n_exact AS BIGINT) AS n_exact,
       |  round(CAST(n_hits AS DOUBLE) / n_exact, 6) AS recall,
       |  round(CAST(sum(n_hits) OVER () AS DOUBLE)
       |    / CAST(sum(n_exact) OVER () AS BIGINT), 6) AS avg_recall
       |FROM hits ORDER BY q_id""".stripMargin
}
