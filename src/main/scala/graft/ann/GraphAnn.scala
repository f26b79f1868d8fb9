package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Ann.{dotCol, dotSql, normSql}

/** Graph ANN (HNSW-class) — SURVEY.md §2 item 333.
  *
  * The graph family next to IVF/PQ/SQ8/LSH: build a k-nearest-neighbor
  * graph over the corpus, then answer queries by BEAM SEARCH over the
  * graph — score a few entry points, repeatedly expand the current
  * best `Beam` candidates through their graph edges, keep the top-k of
  * everything scored. Single-node HNSW gets its long-range routing
  * from hierarchy layers and its graph from sequential inserts —
  * neither survives a 1000-executor cluster, so this uses the two
  * standard distributed substitutes:
  *
  *  - **NN-Descent** graph construction (Dong et al., WWW'11 — the
  *    map-reduce kNN-graph algorithm): start from a cheap blocked
  *    guess, then iterate "a neighbor of my neighbor is probably my
  *    neighbor" — candidates per round are neighbor-of-neighbor pairs
  *    only, O(n·(2·KG)²) edges, never all-pairs. Init blocks are
  *    vec_id % ⌈n/32⌉ groups: ids are uncorrelated with geometry, so
  *    this IS the random init of the paper, but deterministic and
  *    replayable. Two rounds suffice for recall ≥ 0.9 at k-graph 8
  *    (AnnRecallSpec pins it).
  *  - **LSH-seeded entry points** instead of hierarchy: each query
  *    scores the fixed vec_id % EntryStride == 0 stratum PLUS its own
  *    hyperplane-LSH bucket (the §2.27 bucket function), and the beam
  *    starts from the best of both. The stratum gives unconditional
  *    coverage; the bucket gives the coarse routing HNSW's upper
  *    layers provide — without it, beam search cannot reach a tight
  *    isolated cluster at all (nothing is geometrically "between" the
  *    entry points and the cluster in high dimension; measured recall
  *    0.36 stratum-only vs ≥0.9 seeded on the planted corpus — see
  *    [[visitedSet]]).
  *
  * Everything is deterministic for the DuckDB oracle: fixed round and
  * hop counts, all ranks ordered by (cosine DESC, vec_id ASC) on
  * bit-identical left-to-right dot-product folds, and candidate sets
  * built with set semantics (DISTINCT + anti-join) so no engine's
  * join order matters. The oracle replays the FULL chain — init
  * blocks, both NN-Descent rounds, entry scan, all three hops — as
  * unrolled CTEs, the [[Ivf.lloydPrefixSql]] pattern.
  *
  * Scale shape: every stage is a keyed equi-join or a per-node/per-
  * query window — init joins within ~32-row id blocks (n·32 pairs),
  * each NN-Descent round is bounded by n·(2·KG)² candidate edges
  * shuffled on vec_id, and search joins a broadcast beam (nq·Beam
  * rows) against the node-partitioned edge table. The corpus-sized
  * frames (vectors, edges) are pinned to shuffle_hash joins so
  * tiny-SF stats can never flip them to broadcasts (the round-5
  * interval_overlap trap); the genuinely bounded frames (queries,
  * beams, expansions) are broadcast explicitly. Per-round lazy
  * localCheckpoints keep the iterated plan linear (the bfsDistances
  * barrier pattern). At 100 TB the build is R scans + R bounded
  * shuffles — the published NN-Descent cost — and each query batch
  * touches n/EntryStride + Hops·Beam·KG vectors instead of n.
  */
object GraphAnn {

  val KG = 8 // graph out-degree
  val Rounds = 2 // NN-Descent refinement rounds
  val InitGroup = 32L // target init block size (G = max(n/32, 1) blocks)
  /** LSH-init bucket sizing: the init arm pairs FULL member×member
    * within each bucket, and the plane count GROWS with n via the
    * pure-integer [[Ann.initPlanesFor]] ladder (smallest p with
    * n ≤ [[InitBucketTarget]]·2^p) so expected bucket size — and so
    * the arm's n·bucket pair volume — stays ~constant as the corpus
    * scales. At a FIXED 8 planes the arm was n·(n/256) pairs —
    * measured 10.3 s (sf0.1, n=2k) → 41.2 s (sf1, 20k) → 1121.5 s
    * (sf5, 100k), 27× for the last 5× of data, 45% of the entire sf5
    * sweep. Two capping alternatives measured and REJECTED for
    * recall: pairing members against a bounded per-bucket hub set
    * (first-32-by-id OR stride-sampled) drops planted-cluster
    * recall@10 from ≥0.9 to 0.78 on the 5k-distractor corpus — the
    * rare high-cosine member×member pairs ARE the init signal
    * NN-Descent amplifies (one in-cluster edge per node suffices; a
    * hub is in-cluster only with prob cap/size), and member→hub
    * edges at cos≈0.1 are cut by the per-node top-KG immediately.
    * Growing planes keeps every within-bucket pair while shrinking
    * buckets; the recall price is the documented monotone
    * planes↔recall trade-off (a mate pair collides w.p.
    * ≈0.86^planes at cos 0.9), amortized by the 10-mate cluster
    * redundancy — the recall spec pins ≥0.9 at the 5 k scale
    * (7 planes under this ladder). */
  val InitBucketTarget = 64L
  val MaxInitPlanes = 16
  /** Hot-bucket sub-split (the §2.113 treatment): REAL embedding
    * corpora are manifold-clustered, so even n-adaptive planes leave
    * heavy buckets — measured on the sf5 corpus at 11 planes: max
    * bucket 1828 of mean 51, Σsize² = 116 M pairs ≈ 10× the balanced
    * estimate (408 s). Members of buckets over [[HotBucketCap]] get
    * [[ExtraPlanes]] more sign bits (a 16-way split) — derived from
    * the SAME pl+4-bit hash whose low bits are the base bucket, so
    * one bucket computation serves both levels; split buckets move to
    * a disjoint id namespace (+2^(pl+4)) so a split id can never
    * collide with a cold base id. Cap = 4×target: the planted-cluster
    * recall corpus (max bucket 144) never splits, and a mate pair
    * inside a genuinely hot bucket still collides w.p.
    * 0.86^(pl+4) — the documented planes↔recall trade, applied only
    * where the quadratic cost forces it. */
  val HotBucketCap = 256L
  val ExtraPlanes = 4
  val EntryStride = 64L // entry stratum: vec_id % 64 == 0
  val Beam = 10 // beam width (>= k so the final beam can answer alone)
  val Hops = 3 // beam-search expansion rounds

  private def cosine(ae: Column, an: Column, be: Column, bn: Column): Column =
    dotCol(ae, be) / (an * bn)

  private def topPerNode(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("node").orderBy(desc("cs"), asc("nbr"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k).drop("rk")
  }

  /** Node-chunk count for the payload-carrying scoring joins. The
    * build's peak disk is the candidate scoring intermediate —
    * ~n·(2·KG)² rows each dragging two dense vectors (≈1 KB at
    * dim 64): ~110 GB at n = 400 k, which overran the sf20 box's
    * 75 GB free disk (VERDICT r12 weak #3). One chunk per ~100 k
    * nodes keeps a chunk's intermediate ≈ 27 GB; sf5 (100 k) stays a
    * single chunk, so the proven build numbers below that scale are
    * untouched. */
  private def scoreChunksFor(n: Long): Int =
    math.max(1L, (n + 99999) / 100000).toInt

  /** Score candidate pairs against the vector table and keep the
    * top-`kg` per node, CHUNKED BY NODE so no payload-carrying
    * intermediate ever crosses a shuffle boundary:
    *
    *  - the NARROW pair frame shuffles into the nbr-side vector join
    *    (pinned shuffle-hash — tiny-SF checkpoint stats must never
    *    flip the corpus-sized vector table to a broadcast);
    *  - the chunk's NODE-side vectors join by explicit broadcast —
    *    bounded ≤ ~[[scoreChunksFor]]-cap vectors (~55 MB at dim 64)
    *    at EVERY corpus size by construction, since chunks scale with
    *    n — so the wide (pair × two-vectors) rows exist only inside
    *    one stage and reduce to 24 B (node, nbr, cs) rows before the
    *    top-k window's shuffle.
    *
    * The first build shape shuffled the vector-laden intermediate
    * twice — ~8 GB per chunk at sf20, and lagging async shuffle-file
    * cleanup overran the box's disk (the r12 verdict item this
    * replaces). Per-node top-k is complete within a node's chunk, so
    * the result is identical for every chunk count; chunks run
    * sequentially (eager localCheckpoint per chunk) with a GC nudge so
    * ContextCleaner frees each chunk's (now ~0.6 GB) shuffle files. */
  private def scoredTopK(pairs: DataFrame, v: DataFrame, kg: Int,
      chunks: Int, prior: Option[DataFrame]): DataFrame = {
    val nbrVec = v.select(col("vec_id").as("nbr"), col("e").as("be"),
      col("nrm").as("bn"))
    def score(p: DataFrame, nodeVec: DataFrame): DataFrame = p
      .join(nbrVec.hint("shuffle_hash"), Seq("nbr"))
      .join(broadcast(nodeVec), Seq("node"))
      .select(col("node"), col("nbr"),
        cosine(col("ae"), col("an"), col("be"), col("bn")).as("cs"))
    val nodeVecAll = v.select(col("vec_id").as("node"), col("e").as("ae"),
      col("nrm").as("an"))
    if (chunks <= 1) {
      val scored = score(pairs, nodeVecAll)
      graft.Barrier("ann_graph.edges",
        topPerNode(prior.map(_.unionByName(scored)).getOrElse(scored), kg))
    } else {
      val parts = (0 until chunks).map { i =>
        val inChunk = pmod(xxhash64(col("node")), lit(chunks)) === i
        val scored = score(pairs.filter(inChunk), nodeVecAll.filter(inChunk))
        val merged = prior.map(_.filter(inChunk).unionByName(scored))
          .getOrElse(scored)
        val top = graft.Barrier("ann_graph.edges_chunk", topPerNode(merged, kg),
          eager = true) // serialize chunks
        System.gc()
        top
      }
      parts.reduce(_ unionAll _)
    }
  }

  /** NN-Descent kNN graph: (node, nbr, cs) with KG out-edges per node
    * (fewer only in degenerate sub-33-vector corpora). The LSH init
    * arm's plane count adapts to n via [[Ann.initPlanesFor]] — a
    * pure-integer ladder the oracle replays from count(*) through ONE
    * static SQL string ([[Ann.bucketSqlDynamic]] masks unused bits),
    * so Spark and DuckDB pick the identical bucketing at every SF. */
  def knnGraph(embeddings: DataFrame, kg: Int = KG,
      rounds: Int = Rounds): DataFrame = {
    // one widening pass (lazy checkpoint): every scoring round derives
    // nbr- and node-side frames from v — without the barrier each of
    // the ~6 references re-ran the parquet scan + float→double widening
    val v = graft.Barrier("ann_graph.vecs", Ivf.vecsD(embeddings)) // (vec_id, e, nrm)
    val n = embeddings.count() // one metadata-cheap count for the block modulus
    val groups = math.max(n / InitGroup, 1L)
    // two init blockings, unioned:
    //  - id blocks (vec_id % ⌈n/32⌉): geometry-blind = the paper's
    //    random init, guarantees every node ~32 initial candidates;
    //  - LSH buckets (the §2.27 hyperplane hash): geometry-AWARE —
    //    genuinely near vectors share a bucket with high probability,
    //    so their edges exist from round 0. K=8/R=2 NN-Descent cannot
    //    converge a tight cluster from random init alone (consecutive
    //    ids never share an id block, and nbr-of-nbr propagation has
    //    no in-cluster seed to propagate — measured recall 0.5 on the
    //    planted corpus without this arm, ≥0.9 with it).
    val idBlocks = v.select((col("vec_id") % groups).as("g"),
      col("vec_id"))
    val idPairs = idBlocks.toDF("g", "node")
      .join(idBlocks.toDF("g", "nbr").hint("shuffle_hash"), Seq("g"))
      .select("node", "nbr")
    // n-adaptive plane count (see [[InitBucketTarget]]): full
    // member×member within ~target-sized buckets at every scale,
    // under TWO independent hash tables. One table can split a tight
    // cluster into graph components NN-Descent never bridges (2-path
    // propagation needs a seed edge per component; measured: a
    // 10-mate cluster split {2, 8} left recall at 0.78) — a split
    // must survive BOTH independent tables to persist, and a member
    // isolated in one table gets a second collision draw in the
    // other (per-mate pair: 1-(1-0.35)² ≈ 0.58 at 7 planes).
    val initPlanes = Ann.initPlanesFor(n, InitBucketTarget, MaxInitPlanes)
    def tableArm(offset: Int): DataFrame = {
      // one (pl+4)-bit hash; low pl bits = the base bucket
      val full = embeddings.select(col("vec_id"),
        Ann.bucketCol(initPlanes + ExtraPlanes, offset).as("fb"))
        .withColumn("b0", col("fb") % (1L << initPlanes))
      val buckets = full
        .withColumn("bsz", count(lit(1)).over(Window.partitionBy("b0")))
        .withColumn("bkt", when(col("bsz") > HotBucketCap,
          col("fb") + (1L << (initPlanes + ExtraPlanes)))
          .otherwise(col("b0")))
        .select("vec_id", "bkt")
      buckets.toDF("node", "bkt")
        .join(buckets.toDF("nbr", "bkt").hint("shuffle_hash"), Seq("bkt"))
        .select("node", "nbr")
    }
    // the second table's LCG plane range starts past EVERYTHING the
    // first can consume (initPlanes + ExtraPlanes ≤ MaxInitPlanes +
    // ExtraPlanes) — offsetting by MaxInitPlanes alone would share
    // hyperplanes between the "independent" tables once initPlanes
    // exceeds MaxInitPlanes − ExtraPlanes (n ≳ 262 k at target 64),
    // exactly the scale the redundancy is meant to protect
    val bucketPairs = tableArm(0).union(tableArm(MaxInitPlanes + ExtraPlanes))
    val chunks = scoreChunksFor(n)
    // candidate frames are narrow (two longs) but referenced once per
    // node chunk — localCheckpoint so the id/LSH blocking (and each
    // round's nbr-of-nbr join) runs once, not `chunks` times
    val initPairs = graft.Barrier("ann_graph.init_pairs", idPairs.union(bucketPairs)
      .filter(col("node") =!= col("nbr"))
      .distinct()) // Spark union = UNION ALL; the oracle's UNION dedups
    var edges = scoredTopK(initPairs, v, kg, chunks, prior = None)
    // On the chunked path every consumer of a candidate barrier is
    // eagerly materialized inside scoredTopK, so the barrier can be
    // released as soon as its round's edges exist — the r13 sf20 build
    // measured ~26 GB of accumulated round-scoped candidate blocks
    // when release waited for the end. Single-chunk edges are lazy
    // barriers that still read the candidates, so there they stay until
    // the owner closes; those corpora are ≤100 k vectors.
    if (chunks > 1) graft.Barrier.release(initPairs)
    for (_ <- 1 to rounds) {
      // undirected view: nbr-of-nbr candidates flow along AND against
      // edges (the paper's "general" join); mutual pairs appear twice
      // (Spark union = UNION ALL) but the candidate DISTINCT below
      // collapses them, matching the oracle's deduping UNION
      val und = edges.select("node", "nbr")
        .union(edges.select(col("nbr").as("node"), col("node").as("nbr")))
      val cand = graft.Barrier("ann_graph.candidates", und.as("p")
        .join(und.as("q").hint("shuffle_hash"), col("p.nbr") === col("q.node"))
        .select(col("p.node").as("node"), col("q.nbr").as("nbr"))
        .filter(col("node") =!= col("nbr")).distinct()
        .join(edges.select(col("node"), col("nbr"))
          .hint("shuffle_hash"), Seq("node", "nbr"), "left_anti"))
      edges = scoredTopK(cand, v, kg, chunks, prior = Some(edges))
      if (chunks > 1) graft.Barrier.release(cand)
    }
    edges
  }

  /** §2.333 `ann_graph`: top-k by beam search over the NN-Descent
    * graph for the first `nq` vectors, (q_id, rk, vec_id, cosine) —
    * the [[Ivf.ivfTopK]] output shape. */
  def graphTopK(embeddings: DataFrame, nq: Int = 5, k: Int = 10): DataFrame = {
    val visited = visitedSet(embeddings, nq)
    val bw = Window.partitionBy("q_id").orderBy(desc("cs"), asc("vec_id"))
    visited.withColumn("rk", row_number().over(bw))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("vec_id"),
        round(col("cs"), 6).as("cosine"))
      .orderBy("q_id", "rk")
  }

  /** Everything beam search SCORES for each query — entry candidates
    * plus all hop expansions, (q_id, vec_id, cs). Exposed for the
    * recall spec's candidates-scanned comparison against IVF:
    * |visited| IS the per-query work, the number the "graph ANN beats
    * IVF at equal recall" claim is measured on.
    *
    * Entry = the fixed 1/EntryStride stratum ∪ the query's own
    * hyperplane-LSH bucket (the §2.27 bucket function). The stratum
    * alone cannot route into a TIGHT ISOLATED cluster: in a
    * high-dimensional random corpus nothing is geometrically "between"
    * the entry points and the cluster, the kNN edges of outside nodes
    * almost never point in (measured recall 0.36 stratum-only on the
    * planted corpus), and HNSW's hierarchy exists precisely to fix
    * this. The distributed substitute is LSH-SEEDED entry (LSH-APG's
    * idea): a cos≈0.95 neighbor shares the query's 8-plane bucket
    * w.p. ≈0.43, some member of a 10-cluster w.p. ≈0.996, and ONE
    * member in the beam pulls in the whole near-clique next hop — LSH
    * supplies coarse routing, the graph supplies the local expansion
    * LSH alone lacks (single-probe LSH recall ≈0.43). Both entry arms
    * are keyed joins against broadcast nq-row query frames. */
  private[graft] def visitedSet(embeddings: DataFrame, nq: Int): DataFrame = {
    // one widening pass for the entry scan + every hop's scoring join
    val v = graft.Barrier("ann_search.vecs", Ivf.vecsD(embeddings))
    val edges = knnGraph(embeddings)
    // nq rows by construction; the limit also MARKS the bound so the
    // plan gate can prove the broadcast is not data-sized
    val q = v.filter(col("vec_id") < nq).limit(nq)
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("nrm").as("qn"))
    val buckets = embeddings.select(col("vec_id"),
      Ann.bucketCol().as("bucket"))
    val qBuckets = buckets.filter(col("vec_id") < nq).limit(nq)
      .select(col("vec_id").as("q_id"), col("bucket").as("qbucket"))
    val stratumIds = v.filter(col("vec_id") % EntryStride === 0)
      .crossJoin(broadcast(q.select("q_id")))
      .select(col("q_id"), col("vec_id"))
    val bucketIds = buckets
      .join(broadcast(qBuckets), col("bucket") === col("qbucket"))
      .select(col("q_id"), col("vec_id"))
    val entry = stratumIds.union(bucketIds)
      .filter(col("vec_id") =!= col("q_id")).distinct()
      .join(v.hint("shuffle_hash"), Seq("vec_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("qe"), col("qn"), col("e"), col("nrm")).as("cs"))
    var visited = graft.Barrier("ann_search.visited", entry)
    val bw = Window.partitionBy("q_id").orderBy(desc("cs"), asc("vec_id"))
    def beamOf(vis: DataFrame): DataFrame =
      vis.withColumn("rk", row_number().over(bw))
        .filter(col("rk") <= Beam).select("q_id", "vec_id")
    for (_ <- 1 to Hops) {
      val expand = broadcast(beamOf(visited))
        .join(edges.hint("shuffle_hash"), col("vec_id") === col("node"))
        .select(col("q_id"), col("nbr").as("vec_id"))
        .filter(col("vec_id") =!= col("q_id")).distinct()
        .join(visited.select("q_id", "vec_id"), Seq("q_id", "vec_id"),
          "left_anti")
      val scored = broadcast(expand)
        .join(v.hint("shuffle_hash"), Seq("vec_id"))
        .join(broadcast(q), Seq("q_id"))
        .select(col("q_id"), col("vec_id"),
          cosine(col("qe"), col("qn"), col("e"), col("nrm")).as("cs"))
      visited = graft.Barrier("ann_search.visited", visited.unionByName(scored))
    }
    visited
  }

  /** Full-chain oracle replay: unrolled init + NN-Descent rounds +
    * entry scan + beam hops, every rank on (cs DESC, id ASC) over the
    * same fixed-order dot folds. */
  def graphTopKSql(nq: Int = 5, k: Int = 10): String = {
    def top(src: String, part: String, ord: String, kk: Long,
        cols: String): String =
      s"""SELECT $cols FROM (SELECT *, row_number() OVER (
         |    PARTITION BY $part ORDER BY cs DESC, $ord ASC) AS rk
         |  FROM $src) t WHERE rk <= $kk""".stripMargin
    // one NN-Descent round over edge CTE eP -> eN
    def roundSql(eP: String, u: String, c: String, s: String,
        eN: String): String =
      s"""$u AS (SELECT node, nbr FROM $eP
         |  UNION SELECT nbr AS node, node AS nbr FROM $eP),
         |$c AS MATERIALIZED (SELECT DISTINCT p.node, q.nbr AS cand
         |  FROM $u p JOIN $u q ON p.nbr = q.node
         |  WHERE q.nbr != p.node AND NOT EXISTS (SELECT 1 FROM $eP ex
         |    WHERE ex.node = p.node AND ex.nbr = q.nbr)),
         |$s AS (SELECT c.node, c.cand AS nbr,
         |    ${dotSql("a.e", "b.e")} / (a.nrm * b.nrm) AS cs
         |  FROM $c c JOIN v a ON a.vec_id = c.node
         |    JOIN v b ON b.vec_id = c.cand),
         |$eN AS MATERIALIZED (${top(s"(SELECT * FROM $eP UNION ALL SELECT * FROM $s) z",
        "node", "nbr", KG, "node, nbr, cs")})""".stripMargin
    val rounds = (0 until Rounds).map(i =>
      roundSql(s"e$i", s"u$i", s"c$i", s"s$i", s"e${i + 1}")).mkString(",\n")
    val eFin = s"e$Rounds"
    // one beam hop over visited CTE vP -> vN
    def hopSql(vP: String, bm: String, x: String, sc: String,
        vN: String): String =
      s"""$bm AS (${top(vP, "q_id", "vec_id", Beam, "q_id, vec_id")}),
         |$x AS (SELECT DISTINCT b.q_id, e.nbr AS vec_id
         |  FROM $bm b JOIN $eFin e ON e.node = b.vec_id
         |  WHERE e.nbr != b.q_id AND NOT EXISTS (SELECT 1 FROM $vP vv
         |    WHERE vv.q_id = b.q_id AND vv.vec_id = e.nbr)),
         |$sc AS (SELECT x.q_id, x.vec_id,
         |    ${dotSql("q.qe", "s.e")} / (q.qn * s.nrm) AS cs
         |  FROM $x x JOIN v s ON s.vec_id = x.vec_id
         |    JOIN qs q ON q.q_id = x.q_id),
         |$vN AS MATERIALIZED (SELECT * FROM $vP UNION ALL SELECT * FROM $sc)""".stripMargin
    val hops = (0 until Hops).map(i =>
      hopSql(s"v$i", s"b$i", s"x$i", s"sc$i", s"v${i + 1}")).mkString(",\n")
    val vFin = s"v$Hops"
    s"""WITH v AS MATERIALIZED (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
       |    ${normSql("list_transform(embedding, x -> CAST(x AS DOUBLE))")} AS nrm
       |  FROM embeddings),
       |grp AS (SELECT vec_id, vec_id % greatest(
       |    (SELECT count(*) FROM embeddings) // $InitGroup, 1) AS g FROM v),
       |plc AS (SELECT ${Ann.initPlanesSql(InitBucketTarget, MaxInitPlanes)} AS pl
       |  FROM (SELECT count(*) AS cnt FROM embeddings) cc),
       |${Seq(("bki", 0), ("bki2", MaxInitPlanes + ExtraPlanes)).map { case (cte, off) =>
      s"""$cte AS MATERIALIZED (SELECT vec_id,
         |    CASE WHEN bsz > $HotBucketCap
         |      THEN fb + (CAST(1 AS BIGINT) << (pl + $ExtraPlanes))
         |      ELSE b0 END AS bucket
         |  FROM (SELECT vec_id, fb, pl,
         |      fb % (CAST(1 AS BIGINT) << pl) AS b0,
         |      count(*) OVER (PARTITION BY
         |        fb % (CAST(1 AS BIGINT) << pl)) AS bsz
         |    FROM (SELECT vec_id, pl,
         |        ${Ann.bucketSqlDynamic(s"(pl + $ExtraPlanes)",
        MaxInitPlanes + ExtraPlanes, off)} AS fb
         |      FROM embeddings CROSS JOIN plc) t0) t1)""".stripMargin
    }.mkString(",\n")},
       |bk AS MATERIALIZED (SELECT vec_id, ${Ann.bucketSql()} AS bucket FROM embeddings),
       |i0c AS MATERIALIZED (SELECT a.vec_id AS node, b.vec_id AS nbr
       |    FROM grp a JOIN grp b ON a.g = b.g AND a.vec_id != b.vec_id
       |  UNION SELECT a.vec_id, b.vec_id
       |    FROM bki a JOIN bki b ON a.bucket = b.bucket
       |    AND a.vec_id != b.vec_id
       |  UNION SELECT a.vec_id, b.vec_id
       |    FROM bki2 a JOIN bki2 b ON a.bucket = b.bucket
       |    AND a.vec_id != b.vec_id),
       |i0 AS (SELECT c.node, c.nbr,
       |    ${dotSql("a.e", "b.e")} / (a.nrm * b.nrm) AS cs
       |  FROM i0c c JOIN v a ON a.vec_id = c.node
       |    JOIN v b ON b.vec_id = c.nbr),
       |e0 AS (${top("i0", "node", "nbr", KG, "node, nbr, cs")}),
       |$rounds,
       |qs AS (SELECT vec_id AS q_id, e AS qe, nrm AS qn FROM v
       |  WHERE vec_id < $nq),
       |qb AS (SELECT q.q_id, b.bucket AS qbucket FROM qs q
       |  JOIN bk b ON b.vec_id = q.q_id),
       |cand0 AS (SELECT q.q_id, s.vec_id FROM qs q JOIN v s
       |    ON s.vec_id % $EntryStride = 0 AND s.vec_id != q.q_id
       |  UNION SELECT qb.q_id, b.vec_id FROM qb JOIN bk b
       |    ON b.bucket = qb.qbucket AND b.vec_id != qb.q_id),
       |v0 AS (SELECT c.q_id, c.vec_id,
       |    ${dotSql("q.qe", "s.e")} / (q.qn * s.nrm) AS cs
       |  FROM cand0 c JOIN v s ON s.vec_id = c.vec_id
       |    JOIN qs q ON q.q_id = c.q_id),
       |$hops
       |SELECT q_id, rk, vec_id, round(cs, 6) AS cosine FROM (
       |  SELECT q_id, vec_id, cs, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cs DESC, vec_id ASC) AS rk FROM $vFin) t
       |WHERE rk <= $k ORDER BY q_id, rk""".stripMargin
  }
}
