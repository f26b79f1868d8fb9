package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-correctness invariant checker for the 5 iterative operators
  * (`dedup_clusters`, `dedup_clusters_star`, `dedup_keep_best`,
  * `ann_ivf`, `bpe_merges`) whose DuckDB oracle replays are infeasible
  * past sf0.1 (recursive CTEs / k-means over 6 M rows run >25 min).
  * Instead of replaying, verify INVARIANTS that pin the outputs as
  * tightly as the replay would, each computed in Spark in a few linear
  * passes — so the same gate the oracle provides at sf≤0.1 extends to
  * sf1/sf5 in seconds:
  *
  *  - connected components: one label per doc; every MinHash edge
  *    connects equal labels (⟺ the labels are a fixed point of
  *    min-propagation); each cluster_id IS the minimum member of its
  *    cluster; and the propagation labels equal the big-star/small-star
  *    labels EXACTLY — two independent algorithms agreeing rules out
  *    over- and under-merging together with the edge/min checks.
  *  - keep-best: exactly one kept doc per cluster; the kept doc is the
  *    (quality_score desc, doc_id asc) argmax of its cluster; labels
  *    match dedup_clusters.
  *  - IVF: final centroids equal an INDEPENDENTLY computed mean of
  *    their assigned vectors under the previous round's centroids
  *    (posexplode + avg + reassembly — a different code path from the
  *    VectorMean aggregate the operator uses); every reported cosine
  *    re-derived directly from the embeddings table; every reported
  *    neighbor lies in a probed cell; and NO unreported candidate in a
  *    probed cell beats the k-th reported neighbor (exact top-k over
  *    the probed cells, verified without re-running the ranking).
  *  - BPE: each round's (pair, n) replayed with a DIFFERENT merge
  *    implementation (regexp over the space-joined symbol string vs
  *    the compiled BpeMergeFold kernel) and a different pair counter
  *    (HOF over sequence vs the compiled adjacent_pairs kernel).
  *    Interpreted HOFs are fine here: the vocab table is ~31 rows.
  *
  * Usage: `sbt "runMain graft.tools.InvariantCheck <dataDir>"`.
  * Prints one `INVARIANT <name> PASS|FAIL <detail>` line each plus a
  * JSON summary; exits nonzero on any failure. The same checks run in
  * InvariantSpec at sf0.01 on every `sbt test`.
  */
object InvariantCheck {

  final case class Res(name: String, pass: Boolean, detail: String)

  private def res(name: String, bad: Long, context: String): Res =
    Res(name, bad == 0, if (bad == 0) context else s"$bad violations ($context)")

  // ---- connected components + keep-best ----

  def checkClusters(spark: SparkSession, dir: String): Seq[Res] = {
    val docs = graft.Tables.documents(spark, dir)
    val prop = graft.pipeline.Pipeline.dedupClusters(spark, dir).cache()
    val star = graft.pipeline.Pipeline.dedupClustersStar(spark, dir).cache()
    val pairs = graft.dedup.Dedup.minhashPairs(docs)
      .select("id_a", "id_b").cache()
    val nDocs = docs.count()
    val nLab = prop.count()
    val nIds = prop.select("doc_id").distinct().count()
    val partitionOk = Res("cc_partition", nLab == nDocs && nIds == nDocs,
      s"docs=$nDocs labeled=$nLab distinct=$nIds")
    // edge consistency ⟺ fixed point: if every edge joins equal labels,
    // min over self ∪ neighbors changes nothing (and vice versa)
    val la = prop.select(col("doc_id").as("id_a"), col("cluster_id").as("ca"))
    val lb = prop.select(col("doc_id").as("id_b"), col("cluster_id").as("cb"))
    val badEdge = pairs.join(la, "id_a").join(lb, "id_b")
      .filter(col("ca") =!= col("cb")).count()
    // the label is a member, and the smallest one
    val badMin = prop.groupBy("cluster_id").agg(min("doc_id").as("mn"))
      .filter(col("mn") =!= col("cluster_id")).count()
    val badCanon = prop
      .filter(col("is_canonical") =!= (col("doc_id") === col("cluster_id")))
      .count()
    // cross-algorithm agreement (propagation vs big-star/small-star)
    val p2 = prop.select("doc_id", "cluster_id")
    val s2 = star.select("doc_id", "cluster_id")
    val badAlgo = p2.exceptAll(s2).count() + s2.exceptAll(p2).count()

    // keep-best on top of the same labels
    val kb = graft.pipeline.Pipeline.dedupKeepBest(spark, dir).cache()
    val badKeptCnt = kb.groupBy("cluster_id")
      .agg(sum(when(col("is_kept"), 1).otherwise(0)).as("k"))
      .filter(col("k") =!= 1).count()
    val best = kb.groupBy("cluster_id")
      .agg(max_by(col("doc_id"), struct(col("quality_score"), -col("doc_id")))
        .as("best_id"))
    val badArgmax = kb.filter(col("is_kept")).join(best, "cluster_id")
      .filter(col("doc_id") =!= col("best_id")).count()
    val k2 = kb.select("doc_id", "cluster_id")
    val badKbLab = k2.exceptAll(p2).count() + p2.exceptAll(k2).count()

    // rounds-to-converge audit (VERDICT r08 #8): propagation rounds are
    // bounded by the largest cluster's size (rounds ≤ diameter+1 <
    // size+1), star rounds by the Kiveris O(log n) shape — recorded at
    // every SF so cluster-diameter growth can't silently blow the loop
    val propRounds = graft.pipeline.Pipeline.lastPropagationRounds
    val starRounds = graft.pipeline.Pipeline.lastStarRounds
    val maxClusterSize = prop.groupBy("cluster_id").count()
      .agg(max("count")).head().getLong(0)
    val log2n = math.ceil(math.log(math.max(nDocs, 2).toDouble)
      / math.log(2)).toInt
    // big-star/small-star's PROVEN worst case is O(log^2 n) rounds
    // (Kiveris et al.); the observed shape on these corpora is ~log n,
    // but gating at ceil(log2 n)+2 could flag a legal adversarial
    // cluster that converged slowly (ADVICE r9). Gate at the proven
    // quadratic bound and keep the observed count in the message so
    // drift stays visible without false positives.
    val starBound = math.max(log2n * log2n, log2n + 2)
    val roundsOk = Seq(
      Res("cc_propagation_rounds",
        propRounds >= 1 && propRounds <= maxClusterSize + 1,
        s"rounds=$propRounds (converged, bound=max_cluster_size+1=" +
          s"${maxClusterSize + 1})"),
      Res("cc_star_rounds",
        starRounds >= 0 && starRounds <= starBound,
        s"rounds=$starRounds (converged, typical~ceil(log2 n)+2=" +
          s"${log2n + 2}, gate=log2(n)^2=$starBound)"))

    val out = roundsOk ++ Seq(
      partitionOk,
      res("cc_edges_fixed_point", badEdge, s"${pairs.count()} minhash edges"),
      res("cc_label_is_min_member", badMin, "per-cluster min(doc_id)=cluster_id"),
      res("cc_canonical_flag", badCanon, "is_canonical = (doc_id=cluster_id)"),
      res("cc_cross_algorithm", badAlgo, "propagation = big-star/small-star"),
      res("kb_one_kept_per_cluster", badKeptCnt, "sum(is_kept)=1 per cluster"),
      res("kb_kept_is_argmax", badArgmax, "kept = max(quality, -doc_id)"),
      res("kb_labels_match", badKbLab, "keep_best labels = dedup_clusters"))
    prop.unpersist(); star.unpersist(); pairs.unpersist(); kb.unpersist()
    out
  }

  // ---- IVF ----

  def checkIvf(spark: SparkSession, dir: String,
      nq: Int = 5, k: Int = 10): Seq[Res] = {
    import graft.ann.{Ann, Ivf}
    val emb = graft.Tables.embeddings(spark, dir)
    val v = Ivf.vecsD(emb).cache()
    val centPrev = Ivf.trainCentroids(emb, Ivf.Iters - 1).cache()
    val cent = Ivf.trainCentroids(emb, Ivf.Iters).cache()
    // final centroid = 6dp-rounded mean of the vectors assigned to it
    // under the previous round's centroids — recomputed WITHOUT the
    // VectorMean aggregate: posexplode to (cid, pos, x), avg per
    // component, reassemble with array_agg sorted by pos
    val indep = Ivf.assignNearest(v, centPrev)
      .select(col("cid"), posexplode(col("e")).as(Seq("pos", "x")))
      // the exact-quantized VectorMean rule, recomputed independently:
      // e6-integer sums, integer half-up mean, one exact division
      .withColumn("xi", expr("CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)"))
      .groupBy("cid", "pos")
      .agg(sum("xi").as("s"), count(lit(1)).as("cnt"))
      .withColumn("m", expr(
        """CAST(CASE WHEN s >= 0 THEN (2 * s + cnt) div (2 * cnt)
          |ELSE -((2 * -s + cnt) div (2 * cnt)) END AS DOUBLE)
          |/ 1000000.0""".stripMargin))
      .groupBy("cid")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cid"), col("pm.m").as("ce2"))
    val badCent = cent.join(indep, "cid")
      .filter(col("ce") =!= col("ce2")).count()
    val nCent = cent.count()
    val nIndep = indep.count()

    val out = Ivf.ivfTopK(emb, nq, k).cache()
    // reported cosine re-derived straight from the embeddings table
    val qv = v.select(col("vec_id").as("q_id"), col("e").as("qe"), col("nrm").as("qn"))
    val nv = v.select(col("vec_id"), col("e").as("ne"), col("nrm").as("nn"))
    val badCos = out.join(qv, "q_id").join(nv, "vec_id")
      .withColumn("cos2",
        round(Ann.dotCol(col("qe"), col("ne")) / (col("qn") * col("nn")), 6))
      .filter(col("cosine") =!= col("cos2")).count()
    // candidate set = probed cells under the final assignment
    val assigned = Ivf.assignNearest(v, cent)
    val probes = Ivf.probeTable(v, cent, nq)
    val cand = assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        round(Ann.dotCol(col("qe"), col("e")) / (col("qn") * col("nrm")), 6))
      .select("q_id", "vec_id", "cos").cache()
    val badContain = out.select("q_id", "vec_id")
      .join(cand, Seq("q_id", "vec_id"), "left_anti").count()
    // completeness: no unreported candidate beats the k-th reported
    // (strict struct compare on the operator's (cosine desc, vec_id
    // asc) order) — together with containment + correct cosines this
    // IS exact top-k over the probed cells
    // struct fields aliased identically on both sides — struct
    // comparison requires matching field names
    val kth = out.groupBy("q_id").agg(
      min(struct(col("cosine").as("s"), (-col("vec_id")).as("t"))).as("kth"),
      count(lit(1)).as("nrep"))
    val badComplete = cand
      .join(out.select("q_id", "vec_id"), Seq("q_id", "vec_id"), "left_anti")
      .join(kth, "q_id")
      .filter(col("nrep") >= k &&
        struct(col("cos").as("s"), (-col("vec_id")).as("t")) > col("kth")).count()
    val r = Seq(
      res("ivf_centroid_is_mean", badCent,
        s"$nCent centroids vs $nIndep independent means"),
      res("ivf_reported_cosines", badCos, "recomputed from embeddings"),
      res("ivf_neighbors_in_probed_cells", badContain, "containment"),
      res("ivf_topk_complete", badComplete, "no unreported candidate beats k-th"))
    v.unpersist(); centPrev.unpersist(); cent.unpersist()
    out.unpersist(); cand.unpersist()
    r
  }

  // ---- BPE ----

  /** Space-joined greedy merge: regexp replaces non-overlapping
    * left-to-right, which is exactly BpeMergeFold's greedy semantics
    * ("a a a" + (a,a) → "aa a"). Symbols never contain whitespace, so
    * the \s boundaries are sound. */
  private def regexMerge(s: Column, a: String, b: String): Column = {
    val pat = "(?<=^|\\s)" + java.util.regex.Pattern.quote(a) + "\\s" +
      java.util.regex.Pattern.quote(b) + "(?=\\s|$)"
    regexp_replace(s, pat, java.util.regex.Matcher.quoteReplacement(a + b))
  }

  def checkBpe(spark: SparkSession, dir: String): Seq[Res] = {
    import graft.text.{TextFunctions => TF, TextQueries => TQ}
    val reported = TQ.bpeMerges(spark, dir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    // independent replay over the (tiny) distinct-token table: string
    // symbols + regexp merges + interpreted-HOF pair counts
    val tc = graft.Tables.documents(spark, dir)
      .select(explode(TF.tokens(TF.normalize(col("text")))).as("tok"))
      .filter(length(col("tok")) >= 2)
      .groupBy("tok").agg(count(lit(1)).as("c"))
    var syms = tc.withColumn("s", concat_ws(" ", split(col("tok"), "")))
      .select("c", "s").cache()
    val results = scala.collection.mutable.ArrayBuffer[Res]()
    for ((round, pair, n) <- reported.sortBy(_._1)) {
      val top = syms
        .select(col("c"), explode(expr(
          """transform(sequence(1, size(split(s, ' ')) - 1),
            |  i -> struct(element_at(split(s, ' '), i) AS a,
            |              element_at(split(s, ' '), i + 1) AS b))"""
            .stripMargin)).as("p"))
        .groupBy("p").agg(sum("c").as("n"))
        .orderBy(desc("n"), asc("p.a"), asc("p.b")).limit(1)
        .select("p.a", "p.b", "n").head()
      val (a, b, n2) = (top.getString(0), top.getString(1), top.getLong(2))
      val ok = pair == s"$a $b" && n == n2
      results += Res(s"bpe_round_$round", ok,
        if (ok) s"pair='$pair' n=$n replayed"
        else s"reported ('$pair', $n) vs independent ('$a $b', $n2)")
      val next = syms.withColumn("s", regexMerge(col("s"), a, b)).cache()
      next.count()
      syms.unpersist()
      syms = next
    }
    syms.unpersist()
    results.toSeq
  }

  // ---- semantic dedup (§2.119) ----

  /** Pins dedup_semantic's output from the embeddings table + its own
    * reported clustering: (a) one verdict per vector; (b) every dup's
    * deferral target is in the SAME cluster, strictly more central
    * ((cent_cos, −id) order), with the reported pair cosine exactly
    * re-derived from the embeddings and ≥ θ; (c) completeness — no
    * KEPT member has any more-central same-cluster neighbor within θ
    * (the full in-cluster pair join, same cost class as the query).
    * The cluster assignment itself is pinned by the shared-code IVF
    * centroid checks above on the K=8 path. */
  def checkSemantic(spark: SparkSession, dir: String): Seq[Res] = {
    import graft.ann.{Ann, Ivf, SemDedup}
    val emb = graft.Tables.embeddings(spark, dir)
    val out = SemDedup.semanticDedup(emb).cache()
    val v = Ivf.vecsD(emb)
    val n = emb.count()
    val nOut = out.count()
    val nIds = out.select("vec_id").distinct().count()
    val partitionOk = Res("sem_partition", nOut == n && nIds == n,
      s"vectors=$n verdicts=$nOut distinct=$nIds")
    val results = scala.collection.mutable.ArrayBuffer[Res](partitionOk)
    val vA = v.select(col("vec_id").as("vec_id"), col("e").as("ea"), col("nrm").as("na"))
    val vB = v.select(col("vec_id").as("dup_of"), col("e").as("eb"), col("nrm").as("nb"))
    val tgt = out.select(col("vec_id").as("dup_of"), col("cid").as("cid_t"),
      col("cent_cos").as("ct"))
    val cosAB = round(Ann.dotCol(col("ea"), col("eb")) / (col("na") * col("nb")), 6)
    val badDup = out.filter(col("is_dup"))
      .join(tgt, "dup_of").join(vA, "vec_id").join(vB, "dup_of")
      .withColumn("rc", cosAB)
      .filter(col("cid_t") =!= col("cid") ||
        !(col("ct") > col("cent_cos") ||
          (col("ct") === col("cent_cos") && col("dup_of") < col("vec_id"))) ||
        col("rc") =!= col("dup_cos") || col("rc") < SemDedup.MinCos)
      .count()
    results += res("sem_dup_edges", badDup,
      s"${out.filter(col("is_dup")).count()} duplicate verdicts re-derived")
    // completeness: kept members must have NO qualifying better neighbor
    val kept = out.filter(!col("is_dup"))
      .select(col("vec_id").as("id_k"), col("cid"), col("cent_cos").as("ck"))
    val memb = out.select(col("vec_id").as("id_m"), col("cid"),
      col("cent_cos").as("cm"))
    val vK = v.select(col("vec_id").as("id_k"), col("e").as("ek"), col("nrm").as("nk"))
    val vM = v.select(col("vec_id").as("id_m"), col("e").as("em"), col("nrm").as("nm"))
    val badKept = kept.join(memb, "cid")
      .filter(col("id_m") =!= col("id_k"))
      .filter(col("cm") > col("ck") ||
        (col("cm") === col("ck") && col("id_m") < col("id_k")))
      .join(vK, "id_k").join(vM, "id_m")
      .filter(round(Ann.dotCol(col("ek"), col("em")) / (col("nk") * col("nm")), 6)
        >= SemDedup.MinCos)
      .count()
    results += res("sem_kept_complete", badKept,
      s"${kept.count()} kept members checked against all better neighbors")
    out.unpersist()
    results.toSeq
  }

  // ---- graph: PageRank + label propagation (§2.131 / §2.146) ----

  /** Independent adjacency: rebuilt straight from events (not via
    * Graph's cached builder), so a bug in the shared edge projection
    * cannot hide from the replay. */
  private def indepAdj(spark: SparkSession, dir: String): DataFrame = {
    val uv = graft.Tables.events(spark, dir)
      .filter(col("event_type") === "click")
      .select(concat(lit("u"), col("user_id")).as("u"),
        concat(lit("i"), get_json_object(col("props"), "$.k")).as("v"))
      .distinct()
    uv.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(uv.select(col("v").as("src"), col("u").as("dst")))
  }

  /** PageRank: mass conservation, the teleport floor, and a full
    * INDEPENDENT replay of the final damped round — contributions to v
    * re-derived through the symmetric edge direction (join by dst,
    * group by src — the transpose of the operator's plan) over an
    * independently rebuilt adjacency. LP: same final-round replay with
    * a min_by argmax (vs the operator's window-max + min), labels are
    * real node ids, and the reported community sizes re-aggregate. */
  def checkGraph(spark: SparkSession, dir: String): Seq[Res] = {
    import graft.graph.Graph
    val adj = indepAdj(spark, dir).cache()
    val deg = adj.groupBy("dst").agg(count(lit(1)).as("ddeg")).cache()
    val n = deg.count()

    // -- PageRank --
    val prev = Graph.pagerankRanks(spark, dir, Graph.Iters - 1).cache()
    val fin = Graph.pagerankRanks(spark, dir, Graph.Iters).cache()
    val mass = fin.agg(sum("rank")).head().getDouble(0)
    val massOk = Res("pr_mass_conserved", math.abs(mass - 1.0) < 1e-6,
      f"sum(rank)=$mass%.9f over $n nodes")
    val floor = (1.0 - Graph.Damping) / n
    val badFloor = fin.filter(col("rank") < floor - 1e-12).count()
    // transpose replay: edges are symmetric, so Σ_{(u,v)∈E} r(u)/deg(u)
    // grouped by v equals Σ over tuples (src=v, dst=u) of r(u)/deg(u)
    // grouped by SRC, with deg(u) from the dst-grouped count
    val replay = adj
      .join(prev.select(col("node").as("dst"), col("rank")), "dst")
      .join(deg, "dst")
      .select(col("src"), (col("rank") / col("ddeg")).as("c"))
      .groupBy("src").agg(sum("c").as("s"))
      .select(col("src").as("node"),
        (lit((1.0 - Graph.Damping) / n) + lit(Graph.Damping) * col("s"))
          .as("r2"))
    val badStep = fin.join(replay, "node")
      .filter(abs(col("rank") - col("r2")) > 1e-9).count()
    val nFin = fin.count()

    // -- label propagation --
    val lprev = Graph.lpLabels(spark, dir, Graph.LpIters - 1).cache()
    val lfin = Graph.lpLabels(spark, dir, Graph.LpIters).cache()
    // min_by argmax over the transpose-derived vote matrix
    val votes = adj
      .join(lprev.select(col("node").as("dst"), col("lbl")), "dst")
      .groupBy("src", "lbl").agg(count(lit(1)).as("c"))
    val lreplay = votes.groupBy("src")
      .agg(min_by(col("lbl"), struct((-col("c")).as("a"), col("lbl").as("b")))
        .as("l2"))
      .select(col("src").as("node"), col("l2"))
    val badLp = lfin.join(lreplay, "node")
      .filter(col("lbl") =!= col("l2")).count()
    val nLp = lfin.count()
    val badLbl = lfin.join(deg.select(col("dst").as("lbl")), Seq("lbl"),
      "left_anti").count()
    // reported communities re-aggregate from the labels
    val rep = Graph.labelPropagation(spark, dir)
      .select(col("community"), col("n_nodes"))
    val agg2 = lfin.groupBy("lbl").agg(count(lit(1)).as("n_nodes"))
      .select(col("lbl").as("community"), col("n_nodes"))
    val badComm = rep.exceptAll(agg2).count() + agg2.exceptAll(rep).count()

    val out = Seq(
      massOk,
      res("pr_teleport_floor", badFloor, s"rank >= (1-d)/$n"),
      Res("pr_final_round_replay", badStep == 0 && nFin == n,
        if (badStep == 0 && nFin == n) s"$nFin ranks replayed via transpose"
        else s"$badStep rank mismatches, $nFin/$n nodes"),
      Res("lp_final_round_replay", badLp == 0 && nLp == n,
        if (badLp == 0 && nLp == n) s"$nLp labels replayed via min_by"
        else s"$badLp label mismatches, $nLp/$n nodes"),
      res("lp_labels_are_nodes", badLbl, "every label is a node id"),
      res("lp_communities_reaggregate", badComm, "sizes match labels"))
    adj.unpersist(); deg.unpersist(); prev.unpersist(); fin.unpersist()
    lprev.unpersist(); lfin.unpersist()
    out
  }

  // ---- bitext mining (§2.130) ----

  /** Pins bitext_mine from the raw documents/embeddings tables + the
    * blocked candidate table: every reported pair IS a candidate with
    * its cosine re-derived from the raw vectors; kNN averages and
    * margins recomputed via sorted-list slicing (vs the operator's
    * row_number windows); the reported target is the (margin desc,
    * tgt_id) argmax over ALL candidates of its source; margins ≥ θ;
    * one row per source. */
  def checkBitext(spark: SparkSession, dir: String): Seq[Res] = {
    import graft.ann.{Ann, Bitext, Ivf}
    val out = Bitext.bitextMine(spark, dir).cache()
    val scored = Bitext.scoredCandidates(spark, dir).cache()
    val nOut = out.count()
    val badSrcDup = nOut - out.select("src_id").distinct().count()
    // reported pairs ⊆ candidates, with cosines re-derived from raw
    // embeddings (independent of the blocking's arithmetic)
    val v = Ivf.vecsD(graft.Tables.embeddings(spark, dir))
    val vS = v.select(col("vec_id").as("src_id"), col("e").as("es"),
      col("nrm").as("ns"))
    val vT = v.select(col("vec_id").as("tgt_id"), col("e").as("et"),
      col("nrm").as("nt"))
    val badCand = out.select("src_id", "tgt_id")
      .join(scored, Seq("src_id", "tgt_id"), "left_anti").count()
    val badCos = out.join(vS, "src_id").join(vT, "tgt_id")
      .filter(round(Ann.dotCol(col("es"), col("et")) / (col("ns") * col("nt")), 6)
        =!= col("cosine")).count()
    // margins recomputed by slicing sorted candidate lists
    def knn2(key: String, other: String, as: String) = scored
      .groupBy(key)
      .agg(collect_list(struct((-col("cos")).as("nc"), col(other).as("o")))
        .as("l"), count(lit(1)).as("cnt"))
      .withColumn(as, expr(
        s"""-aggregate(slice(array_sort(l), 1, ${Bitext.KnnK}),
           |  cast(0.0 as double), (a, x) -> a + x.nc)"""
          .stripMargin) / least(col("cnt"), lit(Bitext.KnnK)))
      .select(col(key), col(as))
    val m2 = scored
      .join(knn2("src_id", "tgt_id", "kx2"), "src_id")
      .join(knn2("tgt_id", "src_id", "ky2"), "tgt_id")
      .withColumn("m2",
        round(col("cos") / ((col("kx2") + col("ky2")) / 2.0), 6))
      .cache()
    val badMargin = out.join(
        m2.select(col("src_id"), col("tgt_id"), col("m2")),
        Seq("src_id", "tgt_id"))
      .filter(abs(col("margin") - col("m2")) > 1e-5 ||
        col("margin") < Bitext.MarginMin).count()
    // argmax: no candidate of the same source STRICTLY beats the
    // reported margin (1e-5 guards the 6 dp rounding seam; exact ties
    // are pinned by the oracle at sf≤0.1, where margins replay in SQL)
    val badBest = out.select(col("src_id"), col("tgt_id").as("rep_tgt"),
        col("margin").as("rep_m"))
      .join(m2, "src_id")
      .filter(col("m2") > col("rep_m") + 1e-5).count()
    val r = Seq(
      res("bt_one_per_source", badSrcDup, s"$nOut mined pairs"),
      res("bt_pairs_are_candidates", badCand, "output ⊆ blocked candidates"),
      res("bt_cosines_rederived", badCos, "from raw embeddings"),
      res("bt_margins_rederived", badMargin, "sorted-slice kNN averages, ≥ θ"),
      res("bt_best_pair_argmax", badBest, "no candidate beats the reported"))
    out.unpersist(); scored.unpersist(); m2.unpersist()
    r
  }

  // ---- IVF-PQ (§2.147) ----

  /** Pins ann_ivfpq: (a) each final sub-codeword equals an
    * independently computed (posexplode + avg) mean of its assigned
    * subvectors under the previous codebook; (b) every reported ADC
    * cosine re-derived by RECONSTRUCTION — concatenate the candidate's
    * M codewords and score the full 64-dim dot against the raw query
    * vector (a different path from the operator's conditional-sum LUT);
    * (c) neighbors lie in probed cells; (d) top-k completeness — no
    * unreported candidate's reconstruction score beats the k-th
    * reported, under the operator's (pq_cosine desc, vec_id) order. */
  def checkIvfPq(spark: SparkSession, dir: String,
      nq: Int = 5, k: Int = 10): Seq[Res] = {
    import graft.ann.{Ann, Ivf, IvfPq}
    val emb = graft.Tables.embeddings(spark, dir)
    val v = Ivf.vecsD(emb).cache()
    val cbPrev = IvfPq.trainCodebook(v, IvfPq.PqIters - 1)
    val cb = IvfPq.trainCodebook(v).cache()
    val sv = IvfPq.subVecs(v)
    val indep = IvfPq.assignCodes(sv, cbPrev)
      .select(col("m"), col("code"), posexplode(col("sub")).as(Seq("pos", "x")))
      // the exact-quantized VectorMean rule, recomputed independently
      .withColumn("xi", expr("CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)"))
      .groupBy("m", "code", "pos")
      .agg(sum("xi").as("s"), count(lit(1)).as("cnt"))
      .withColumn("mm", expr(
        """CAST(CASE WHEN s >= 0 THEN (2 * s + cnt) div (2 * cnt)
          |ELSE -((2 * -s + cnt) div (2 * cnt)) END AS DOUBLE)
          |/ 1000000.0""".stripMargin))
      .groupBy("m", "code")
      .agg(array_sort(collect_list(struct(col("pos"), col("mm")))).as("pm"))
      .select(col("m"), col("code"), col("pm.mm").as("ce2"))
    val badCb = cb.join(indep, Seq("m", "code"))
      .filter(col("ce") =!= col("ce2")).count()
    val nCb = cb.count(); val nIndep = indep.count()

    // reconstruction scores for every candidate in a probed cell:
    // recon = codewords concatenated in subspace order, so the
    // sequential 64-term dot equals the operator's fixed-order partial
    // sums bit-for-bit
    val recon = IvfPq.assignCodes(sv, cb).drop("sub")
      .join(broadcast(cb), Seq("m", "code"))
      .groupBy("vec_id")
      .agg(flatten(array_sort(collect_list(struct(col("m"), col("ce"))))
        .getField("ce")).as("re"))
    val cent = Ivf.trainCentroids(emb)
    val assigned = Ivf.assignNearest(v, cent)
    val probes = Ivf.probeTable(v, cent, nq)
    val cand = assigned.join(broadcast(probes.select("q_id", "cid", "qe", "qn")),
        Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .join(recon, "vec_id")
      .withColumn("rcos", round(Ann.dotCol(col("qe"), col("re")) /
        (col("qn") * sqrt(Ann.dotCol(col("re"), col("re")))), 6))
      .select("q_id", "vec_id", "rcos").cache()
    val out = IvfPq.ivfPqTopK(emb, nq, k).cache()
    val badAdc = out.join(cand, Seq("q_id", "vec_id"))
      .filter(col("pq_cosine") =!= col("rcos")).count()
    val badContain = out.select("q_id", "vec_id")
      .join(cand, Seq("q_id", "vec_id"), "left_anti").count()
    val kth = out.groupBy("q_id").agg(
      min(struct(col("pq_cosine").as("s"), (-col("vec_id")).as("t"))).as("kth"),
      count(lit(1)).as("nrep"))
    val badComplete = cand
      .join(out.select("q_id", "vec_id"), Seq("q_id", "vec_id"), "left_anti")
      .join(kth, "q_id")
      .filter(col("nrep") >= k &&
        struct(col("rcos").as("s"), (-col("vec_id")).as("t")) > col("kth"))
      .count()
    val r = Seq(
      res("pq_codeword_is_mean", badCb,
        s"$nCb codewords vs $nIndep independent means"),
      res("pq_adc_equals_reconstruction", badAdc, "LUT sum = recon dot"),
      res("pq_neighbors_in_probed_cells", badContain, "containment"),
      res("pq_topk_complete", badComplete,
        "no unreported candidate beats the k-th"))
    v.unpersist(); cb.unpersist(); cand.unpersist(); out.unpersist()
    r
  }

  /** BFS (§2.152): the distance labeling is pinned by local edge
    * conditions over the independently-rebuilt adjacency — no replay
    * loop needed, because a labeling is THE multi-source BFS result
    * iff (a) the sources are exactly the top-degree items at dist 0,
    * (b) every edge is tight (no (u,v) with dist(u)+1 < dist(v)),
    * (c) every labeled non-source's min in-neighbor distance is
    * exactly dist−1 (a shortest-path parent exists), and (d) no
    * unlabeled node neighbors a node with dist < maxHops (the
    * frontier really was exhausted). (b)+(c) force dist = shortest
    * distance by induction on levels; (d) forces completeness. */
  def checkBfs(spark: SparkSession, dir: String): Seq[Res] = {
    import graft.graph.Graph
    val adj = indepAdj(spark, dir).cache()
    val dd = Graph.graphBfs(spark, dir).cache()
    val nReached = dd.count()
    val srcs = adj.groupBy("src").agg(count(lit(1)).as("dg"))
      .filter(col("src").startsWith("i"))
      .orderBy(desc("dg"), asc("src")).limit(Graph.BfsSources)
      .select(col("src").as("node"))
    val zero = dd.filter(col("dist") === 0)
    val badSrc = zero.join(srcs, Seq("node"), "left_anti").count() +
      srcs.join(zero, Seq("node"), "left_anti").count()
    // labeled edge endpoints: (src dist du) -> (dst dist dv nullable)
    val e = adj
      .join(dd.select(col("node").as("src"), col("dist").as("du")), "src")
      .join(dd.select(col("node").as("dst"), col("dist").as("dv")),
        Seq("dst"), "left")
    val badTight = e.filter(col("dv").isNotNull &&
      col("du") + 1 < col("dv")).count()
    val badFrontier = e.filter(col("dv").isNull &&
      col("du") < Graph.BfsMaxHops).count()
    // a corrupt labeling could leave a reached node with NO labeled
    // in-neighbor, which would vanish from the groupBy — count the
    // coverage gap as failures too
    val par = e.filter(col("dv").isNotNull && col("dv") > 0)
      .groupBy("dst", "dv").agg(min("du").as("mind")).cache()
    // max(0, gap): duplicate nodes with different dists would make par
    // LARGER than the reached set, and a negative gap could offset real
    // badParent failures — count node uniqueness as its own failure mode
    val badDup = dd.groupBy("node").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).count()
    val badParent = par.filter(col("mind") =!= col("dv") - 1).count() +
      math.max(0L, dd.filter(col("dist") > 0).count() - par.count())
    par.unpersist()
    val out = Seq(
      res("bfs_sources_top_degree", badSrc,
        s"${Graph.BfsSources} top-degree items at dist 0"),
      res("bfs_edges_tight", badTight, "no edge with dist(u)+1 < dist(v)"),
      res("bfs_nodes_unique", badDup, "one dist label per node"),
      res("bfs_parent_exists", badParent,
        "min in-neighbor dist = dist-1 for every reached non-source"),
      res("bfs_frontier_exhausted", badFrontier,
        s"$nReached reached; no unlabeled neighbor below hop cap"))
    adj.unpersist(); dd.unpersist()
    out
  }

  /** k-core (§2.158): the reported set re-checked against an
    * independently rebuilt adjacency — every reported node keeps ≥ k
    * neighbors INSIDE the set with the reported degree (membership +
    * degree re-derivation), one more peel removes nothing (fixed
    * point), and the core is non-empty at sf1 (a silently-empty result
    * must not pass vacuously). Together with the sf0.001 brute-force
    * replay spec this pins the peel at scale without re-running it. */
  def checkKcore(spark: SparkSession, dir: String): Seq[Res] = {
    import graft.graph.Graph
    val adj = indepAdj(spark, dir).cache()
    val core = Graph.graphKcore(spark, dir).cache()
    val nCore = core.count()
    val redeg = adj
      .join(core.select(col("node").as("src")), "src")
      .join(core.select(col("node").as("dst")), Seq("dst"), "left_semi")
      .groupBy("src").agg(count(lit(1)).as("rc"))
    val joined = core.join(redeg, col("node") === col("src"), "left").cache()
    val badDeg = joined.filter(col("rc").isNull ||
      col("rc") =!= col("deg_core")).count()
    val badFixed = joined.filter(col("rc").isNull ||
      col("rc") < Graph.KcoreK).count()
    joined.unpersist(); adj.unpersist(); core.unpersist()
    Seq(
      res("kcore_degrees_rederived", badDeg,
        s"$nCore in-core degrees match an independent recount"),
      res("kcore_fixed_point", badFixed,
        s"every core node keeps >= ${Graph.KcoreK} core neighbors"),
      res("kcore_nonempty", if (nCore > 0) 0 else 1,
        s"core has $nCore nodes at this SF"))
  }

  // ---- growth / sweep / concentration family (round-7 additions) ----

  /** Cross-operator conservation laws for the growth/novelty/sweep
    * family — each pins an output of one query against an
    * INDEPENDENTLY-computed total (distinct users, user-days,
    * attributed purchases), so a partition-dependent undercount at
    * scale cannot pass. All frames involved are report-sized. */
  def checkGrowth(spark: SparkSession, dir: String): Seq[Res] = {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(spark, dir)
    val nUsers = ev.select("user_id").distinct().count()

    val ga = graft.analytics.Growth.growthAccounting(spark, dir).collect()
    val newSum = ga.map(_.getLong(1)).sum
    val r1 = res("growth_new_conserved",
      math.abs(newSum - nUsers), s"sum(n_new)=$newSum users=$nUsers")
    val act = ga.map(r => (r.getTimestamp(0).getTime, r.getLong(5))).toMap
    val weekMs = 7L * 86400 * 1000
    val churnBad = ga.count { r =>
      act.get(r.getTimestamp(0).getTime - weekMs)
        .exists(prev => r.getLong(4) != prev - r.getLong(2))
    }
    val r2 = res("growth_churn_identity", churnBad,
      "churned(w) = active(w-1) - retained(w) on every interior week")

    val sl = graft.analytics.Growth.streakLengths(spark, dir).collect()
    val r3 = res("streaks_cover_users",
      math.abs(sl.map(_.getLong(1)).sum - nUsers),
      s"histogram covers all $nUsers users")

    val srm = graft.dq.Concentration.srmCheck(spark, dir).collect()
    val userDays = ev.select(to_date(col("ts")), col("user_id"))
      .distinct().count()
    val r4 = res("srm_covers_user_days",
      math.abs(srm.map(r => r.getLong(1) + r.getLong(2)).sum - userDays),
      s"sum(n_a+n_b)=$userDays user-days")

    val sweep = graft.analytics.Sweeps.sessionGapSweep(spark, dir).collect()
    val mono = sweep.map(_.getLong(1)).sliding(2)
      .count { case Array(a, b) => b > a; case _ => false }
    val r5 = res("gap_sweep_monotone", mono,
      "wider gap never creates sessions")
    val r6 = res("gap_sweep_floor",
      sweep.count(_.getLong(1) < nUsers).toLong,
      s"every sweep has >= $nUsers sessions (one per active user)")

    val hhi = graft.dq.Concentration.hhiReport(spark, dir).collect()
    val r7 = res("hhi_bounds", hhi.count { r =>
      val h = r.getDouble(3)
      h < 1.0 / r.getLong(1) - 1e-6 || h > 1.0 + 1e-9
    }.toLong, "1/n <= HHI <= 1 on every dimension")

    val nov = graft.analytics.Growth.itemNovelty(spark, dir).collect()
    val nItems = ev
      .select(get_json_object(col("props"), "$.k").as("i"))
      .filter(col("i").isNotNull).distinct().count()
    val r8 = res("novelty_items_conserved",
      math.abs(nov.map(_.getLong(3)).sum - nItems),
      s"sum(n_new_items)=$nItems catalog items; first week share=" +
        f"${nov.head.getDouble(4)}%.3f")

    val ad = graft.analytics.Mining.attributionDecay(spark, dir).collect()
    val lookUs = graft.analytics.Mining.AttributionLookbackDays *
      86400L * 1000000L
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        unix_micros(col("ts")).as("pus"))
    val c = ev.filter(col("event_type") === "click")
      .filter(get_json_object(col("props"), "$.k").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("cus"))
    val nAttr = p.join(c, Seq("user_id"))
      .filter(col("cus") <= col("pus") && col("cus") >= col("pus") - lookUs)
      .select("p_id").distinct().count()
    val credit = ad.map(_.getDouble(2)).sum
    val r9 = res("decay_credit_partition",
      if (math.abs(credit - nAttr) < 0.01 * math.max(nAttr, 1L)) 0L else 1L,
      f"sum(decay_credit)=$credit%.2f attributed purchases=$nAttr")

    Seq(r1, r2, r3, r4, r5, r6, r7, r8, r9)
  }

  /** Round-8 operators: conservation/bound/cross-path invariants for
    * the layout planners, winnow dedup, quantile normalization, the
    * embargoed time split, the mix-shift bridge, RRF fusion, the
    * silhouette, Nelson–Aalen, and seq_patterns — each a few linear
    * passes, no oracle replay needed. */
  def checkRound8(spark: SparkSession, dir: String): Seq[Res] = {
    val docs = graft.Tables.documents(spark, dir)
    val nDocs = docs.count()
    val sumChars = docs.agg(sum("n_chars")).head().getLong(0)
    val maxChars = docs.agg(max("n_chars")).head().getLong(0)

    // shard_plan: conservation, contiguous shard ids, size bound
    val sp = graft.etl.Layout.shardPlan(spark, dir).cache()
    val r1 = res("shard_conservation",
      math.abs(sp.agg(sum("n_docs")).head().getLong(0) - nDocs) +
        math.abs(sp.agg(sum("chars")).head().getLong(0) - sumChars),
      s"$nDocs docs / $sumChars chars partitioned")
    val contigBad = sp.groupBy("source")
      .agg(min("shard_id").as("mn"), max("shard_id").as("mx"),
        count(lit(1)).as("n"))
      .filter(col("mn") =!= 0L || col("mx") =!= col("n") - 1).count()
    val r2 = res("shard_contiguous", contigBad, "shard ids are 0..n-1 per source")
    val sizeBad = sp.filter(
      col("chars") > graft.etl.Layout.ShardTargetChars + maxChars - 1).count()
    val r3 = res("shard_size_bound", sizeBad,
      s"every shard <= target+maxdoc-1 chars (max doc $maxChars)")
    sp.unpersist()

    // salt_plan: conservation + post-salt cap
    val ev = graft.Tables.events(spark, dir)
    val nEv = ev.count()
    val salt = graft.etl.Layout.saltPlan(spark, dir).collect()
    val t = graft.etl.Layout.SaltTargetRows
    val r4 = res("salt_conservation",
      math.abs(salt.map(_.getLong(1)).sum - nEv), s"$nEv event rows")
    val r5 = res("salt_cap", salt.count { r =>
      r.getLong(3) > t || r.getLong(2) != (r.getLong(1) + t - 1) / t
    }.toLong, s"ceil factors cap partitions at $t rows")

    // encoding_stats: per-column totals + runs bounds
    val li = graft.Tables.lineitem(spark, dir)
    val nLi = li.count()
    val enc = graft.etl.Layout.encodingStats(spark, dir).collect()
    val r6 = res("encoding_rows", enc.count(_.getLong(1) != nLi).toLong,
      s"all columns scanned $nLi rows")
    val r7 = res("encoding_runs_bounds", enc.count { r =>
      r.getLong(3) < r.getLong(2) || r.getLong(3) > r.getLong(1)
    }.toLong, "n_distinct <= n_runs <= n_rows per column")

    // dedup_winnow: pair recount through an independent path
    val pairs = graft.dedup.Winnow.dedupWinnow(spark, dir).cache()
    val fpsAll = graft.dedup.Winnow.fingerprintsOf(docs)
      .select("doc_id", "h").distinct()
    // same df-capped definition, different recount path (set join)
    val fps = fpsAll.join(
      fpsAll.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 &&
          col("df") <= graft.dedup.Winnow.WinnowDfCap).select("h"),
      Seq("h"))
    val sideA = pairs.select(col("doc_a").as("doc_id"), col("doc_b"))
      .join(fps, "doc_id")
      .select(col("doc_id").as("doc_a"), col("doc_b"), col("h"))
    val recount = sideA.join(
        fps.select(col("doc_id").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n2"))
    val winBad = pairs.join(recount, Seq("doc_a", "doc_b"), "left")
      .filter(col("n_shared") =!= coalesce(col("n2"), lit(0L))).count()
    val r8 = res("winnow_pair_recount", winBad,
      "n_shared = |A intersect B| recomputed by set join (df cap applies " +
        "only to evidence, so recount >= n_shared; equality checked on " +
        "capped hashes)")
    val ordBad = pairs.filter(col("doc_a") >= col("doc_b") ||
      col("n_shared") < graft.dedup.Winnow.WinnowMinShared ||
      col("jaccard") <= 0.0 || col("jaccard") > 1.0).count()
    val r9 = res("winnow_pair_shape", ordBad,
      "a<b, n_shared >= min, jaccard in (0,1]")
    pairs.unpersist()

    // quantile_normalize: conservation + per-source monotone mapping
    val qn = graft.pipeline.Normalize.quantileNormalize(spark, dir).cache()
    val r10 = res("qnorm_conservation",
      math.abs(qn.agg(sum("n_rows")).head().getLong(0) - nDocs),
      s"value rows cover all $nDocs docs")
    val w = Window.partitionBy("source").orderBy("value")
    val monoBad = qn.withColumn("prev", lag("q_value", 1).over(w))
      .filter(col("prev").isNotNull && col("q_value") < col("prev")).count()
    val r11 = res("qnorm_monotone", monoBad, "q_value nondecreasing per source")
    val maxBad = qn.withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(desc("value"))))
      .filter(col("rk") === 1)
      .crossJoin(broadcast(docs.agg(max("n_chars").as("mx"))))
      .filter(col("q_value") =!= col("mx")).count()
    val r12 = res("qnorm_max_maps_to_max", maxBad,
      "each source's top value maps to the pooled maximum")
    qn.unpersist()

    // time_split_embargo: census partitions the event stream
    val tse = graft.pipeline.Splits.timeSplitEmbargo(spark, dir).collect()
    val r13 = res("embargo_partition",
      math.abs(tse.map(_.getLong(2)).sum - nEv), s"$nEv events bucketed")
    val names = Set("train", "purged", "embargo", "val", "test")
    val r14 = res("embargo_buckets",
      tse.count(r => !names.contains(r.getString(0))).toLong,
      "bucket names from the 5-way census")

    // mix_shift: the bridge + order conservation
    val nOrders = graft.Tables.orders(spark, dir).count()
    val ms = graft.analytics.MixShift.mixShift(spark, dir).collect()
    val r15 = res("mixshift_conservation",
      math.abs(ms.map(r => r.getLong(1) + r.getLong(2)).sum - nOrders),
      s"$nOrders orders in cells")
    val r16 = res("mixshift_bridge", ms.count { r =>
      math.abs(r.getDouble(6) + r.getDouble(7) - r.getDouble(5)) > 1e-3
    }.toLong, "volume + rate = delta per segment")

    // rank_fusion: shape + score bounds
    val rf = graft.ann.Fusion.rankFusion(spark, dir).collect()
    val maxRrf = 2.0 / (graft.ann.Fusion.RrfK + 1)
    val r17 = res("fusion_bounds", rf.count { r =>
      // +5e-7: rrf is reported on the 6 dp grid, which can round the
      // exact bound 2/(k+1) up by half a grid step
      r.getDouble(3) <= 0.0 || r.getDouble(3) > maxRrf + 5e-7
    }.toLong, s"0 < rrf <= $maxRrf (+6dp slack)")
    val r18 = res("fusion_topk", rf.groupBy(_.getLong(0)).count {
      case (_, rows) => rows.length != graft.ann.Fusion.FuseTopK ||
        rows.map(_.getLong(2)).distinct.length != rows.length
    }.toLong, s"${graft.ann.Fusion.FuseTopK} distinct docs per query")

    // cluster_silhouette: conservation + range
    val nVecs = graft.Tables.embeddings(spark, dir).count()
    val sil = graft.ann.Silhouette.clusterSilhouette(spark, dir).collect()
    val r19 = res("silhouette_conservation",
      math.abs(sil.map(_.getLong(1)).sum - nVecs), s"$nVecs vectors")
    val r20 = res("silhouette_range", sil.count { r =>
      r.getDouble(2) < 0.0 || r.getDouble(2) > 1.0
    }.toLong, "mean silhouette in [0,1] (argmax assignment floor)")

    // nelson_aalen: telescoping risk sets + monotonicity
    val na = graft.analytics.Survival.nelsonAalen(spark, dir).collect()
    val teleBad = na.sliding(2).count {
      case Array(a, b) =>
        a.getLong(1) - b.getLong(1) != a.getLong(2) + a.getLong(3)
      case _ => false
    }.toLong
    val r21 = res("na_risk_telescopes", teleBad,
      "n_risk(t) - n_risk(next) = exits(t)")
    val monoNa = na.sliding(2).count {
      case Array(a, b) => b.getDouble(4) < a.getDouble(4) - 1e-9 ||
        b.getDouble(5) > a.getDouble(5) + 1e-9
      case _ => false
    }.toLong
    val r22 = res("na_monotone", monoNa,
      "hazard nondecreasing, Breslow survival nonincreasing")

    // seq_patterns: share denominator from an independent session count
    val sq = graft.analytics.Sequences.seqPatterns(spark, dir).collect()
    val gapSec = graft.streaming.Streaming.SessionGapMinutes * 60L
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val totTri = graft.Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("ns", when(lag(col("ts"), 1).over(byUser).isNull ||
        col("ts").cast("long") - lag(col("ts"), 1).over(byUser).cast("long")
          > gapSec, 1L).otherwise(0L))
      .withColumn("sid", sum("ns").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid").agg(count(lit(1)).as("n"))
      .agg(sum(greatest(col("n") - 2L, lit(0L)))).head().getLong(0)
    val seqBad = sq.count { r =>
      math.abs(r.getDouble(3) - r.getLong(2).toDouble / totTri) > 1e-5
    }.toLong
    val r23 = res("seq_share_denominator", seqBad,
      s"shares divide by $totTri session trigram slots")

    Seq(r1, r2, r3, r4, r5, r6, r7, r8, r9, r10, r11, r12, r13, r14,
      r15, r16, r17, r18, r19, r20, r21, r22, r23)
  }

  /** Conservation/bound/monotonicity invariants for the round-8
    * third-push operators (§2.288–297). */
  def checkRound8b(spark: SparkSession, dir: String): Seq[Res] = {
    // cuped_adjust: r² in [0,1); the adjusted diff is the arm bridge
    val cu = graft.analytics.Stats.cupedAdjust(spark, dir).head()
    val r1 = res("cuped_bounds",
      (if (cu.getDouble(5) >= 0.0 && cu.getDouble(5) < 1.0) 0 else 1).toLong,
      "var_reduction in [0,1)")
    val r2 = res("cuped_diff_bridge",
      (if (math.abs(cu.getDouble(9) -
        (cu.getDouble(6) - cu.getDouble(7))) < 2e-6) 0 else 1).toLong,
      "diff_adj = adj_mean_a - adj_mean_b")

    // lift_table: cumulative capture monotone, ends at exactly 1
    val lt = graft.analytics.Eval.liftTable(spark, dir).collect()
    val capt = lt.sortBy(_.getLong(0)).map(_.getDouble(5))
    val r3 = res("lift_capture_monotone",
      capt.zip(capt.tail).count { case (a, b) => b < a - 1e-12 }.toLong,
      "cum_capture non-decreasing")
    val r4 = res("lift_capture_terminal",
      (if (math.abs(capt.last - 1.0) < 1e-9) 0 else 1).toLong,
      "cum_capture ends at 1")

    // graph_clustering: cc and transitivity in [0,1]; node conservation
    val gc = graft.graph.Graph.graphClustering(spark, dir).collect()
    val r5 = res("gcc_ranges", gc.count { r =>
      r.getDouble(4) < 0 || r.getDouble(4) > 1 ||
        r.getDouble(5) < 0 || r.getDouble(5) > 1
    }.toLong, "mean_local_cc and transitivity in [0,1]")

    // bloom_plan: sizing arithmetic + dict cutoff replayed
    val bp = graft.etl.Layout.bloomPlan(spark, dir).collect()
    val r6 = res("bloom_sizing", bp.count { r =>
      val bits = math.ceil(
        r.getLong(2) * graft.etl.Layout.BloomBitsPerKey).toLong
      r.getLong(3) != bits || r.getLong(4) != (bits + 7) / 8 ||
        (r.getString(6) == "dict") !=
          (r.getLong(2) <= graft.etl.Layout.BloomDictCutoff)
    }.toLong, "bits/bytes/verdict replay per column")

    // partition_plan: max>=min, share in (0,1], verdict consistent
    val pp = graft.etl.Layout.partitionPlan(spark, dir).collect()
    val r7 = res("partition_verdicts", pp.count { r =>
      val (np, nr, mx, mn) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val want =
        if (np < graft.etl.Layout.PartMinParts) "too_coarse"
        else if (np > graft.etl.Layout.PartMaxParts) "too_fine"
        else if (mx * 2 > nr) "skewed" else "ok"
      mx < mn || r.getString(6) != want
    }.toLong, "verdict matches integer rules; max >= min")

    // prune_stats: row conservation + the sorted layout never scans more
    val ps = graft.etl.Layout.pruneStats(spark, dir).collect()
    val r8 = res("prune_conservation", ps.count { r =>
      r.getLong(6) > r.getLong(5) || r.getLong(5) > r.getLong(4)
    }.toLong, "rows_match <= rows_scanned <= rows_total")
    val byP = ps.groupBy(_.getLong(1))
    val r9 = res("prune_sorted_wins", byP.count { case (_, rows) =>
      val m = rows.map(r => r.getString(0) -> r.getLong(5)).toMap
      m("sorted_chars") > m("natural")
    }.toLong, "range-sorted layout scans <= natural at every threshold")

    // heaps_fit: checkpoint count positive, beta non-negative
    val hf = graft.text.TextQueries.heapsFit(spark, dir).head()
    val r10 = res("heaps_beta",
      (if (hf.getLong(0) >= 3 && hf.getDouble(1) >= 0.0) 0 else 1).toLong,
      ">=3 checkpoints, vocabulary growth slope >= 0")

    // conformal_pi: fold partition + coverage near the nominal 90%
    val cp = graft.analytics.Stats.conformalPi(spark, dir).head()
    val nLi = graft.Tables.lineitem(spark, dir).count()
    val r11 = res("conformal_folds",
      math.abs(cp.getLong(0) + cp.getLong(1) + cp.getLong(2) - nLi),
      s"fit+cal+eval partition the $nLi lineitem rows")
    val r12 = res("conformal_coverage",
      (if (cp.getDouble(6) > 0.85 && cp.getDouble(6) < 0.95) 0 else 1).toLong,
      s"eval coverage ${cp.getDouble(6)} within (0.85, 0.95)")

    // sequential_test: boundary grid decreasing; rejected_by_now is a
    // running OR (once true, stays true)
    val st = graft.analytics.Stats.sequentialTest(spark, dir).collect()
      .sortBy(_.getLong(0))
    val bounds = st.map(_.getDouble(6))
    val r13 = res("obf_grid_decreasing",
      bounds.zip(bounds.tail).count { case (a, b) => b >= a }.toLong,
      "OBF boundaries strictly decrease across looks")
    val rej = st.map(_.getBoolean(8))
    val r14 = res("sequential_absorbing",
      rej.zip(rej.tail).count { case (a, b) => a && !b }.toLong,
      "rejected_by_now never un-rejects")
    val r15 = res("sequential_n_monotone", {
      val na = st.map(_.getLong(1)); val nb = st.map(_.getLong(2))
      (na.zip(na.tail).count { case (a, b) => b < a } +
        nb.zip(nb.tail).count { case (a, b) => b < a }).toLong
    }, "cumulative look sizes non-decreasing")

    // watermark_plan: constant totals, drop monotone in the delay
    val wp = graft.etl.Layout.watermarkPlan(spark, dir).collect()
      .sortBy(_.getLong(0))
    val r16 = res("watermark_totals",
      wp.count(_.getLong(1) != wp.head.getLong(1)).toLong,
      "every candidate audits the same event count")
    val drops = wp.map(_.getLong(2))
    val r17 = res("watermark_monotone",
      drops.zip(drops.tail).count { case (a, b) => b > a }.toLong,
      "longer delay never drops more rows")

    Seq(r1, r2, r3, r4, r5, r6, r7, r8, r9, r10, r11, r12, r13, r14,
      r15, r16, r17)
  }

  def checkRound8c(spark: SparkSession, dir: String): Seq[Res] = {
    // power_analysis: n shrinks as the MDE grows; n_total doubles n_arm
    val pa = graft.analytics.Stats.powerAnalysis(spark, dir).collect()
      .sortBy(_.getLong(0))
    val nArm = pa.map(_.getLong(3))
    val r1 = res("power_monotone",
      nArm.zip(nArm.tail).count { case (a, b) => b >= a }.toLong,
      "required n_per_arm strictly decreases in the MDE")
    val r2 = res("power_doubling",
      pa.count(r => r.getLong(4) != r.getLong(3) * 2).toLong,
      "n_total = 2 * n_per_arm")

    // mm_shard_plan: tar arithmetic + byte/member conservation vs docs
    val msp = graft.multimodal.Multimodal.mmShardPlan(spark, dir).collect()
    val r3 = res("mmshard_tar_bounds", msp.count { r =>
      r.getLong(4) < r.getLong(3) + r.getLong(2) * 512L + 1024L ||
        r.getLong(4) % 512L != 0L
    }.toLong, "archive >= payload + headers + terminator; 512-aligned")
    val r4 = res("mmshard_doc_order",
      msp.count(r => r.getLong(5) > r.getLong(6)).toLong,
      "first_doc <= last_doc in every shard")

    // logrank_test: chi2 = z^2; observed totals conserve; E_A+E_B = O
    val lr = graft.analytics.Survival.logrankTest(spark, dir).head()
    val r5 = res("logrank_chi2",
      (if (math.abs(lr.getDouble(8) -
        lr.getDouble(7) * lr.getDouble(7)) < 1e-4) 0 else 1).toLong,
      "chi2 = z^2")
    val r6 = res("logrank_exp_conserves",
      (if (math.abs(lr.getDouble(4) + lr.getDouble(5) -
        (lr.getLong(2) + lr.getLong(3))) < 1e-3) 0 else 1).toLong,
      "E_A + E_B = total observed conversions")

    // mrr_eval: hits nest; mrr bounded by the hit rate
    val mr = graft.analytics.Eval.mrrEval(spark, dir).head()
    val r7 = res("mrr_nesting",
      (if (mr.getLong(3) <= mr.getLong(4) && mr.getLong(4) <= mr.getLong(5)
        && mr.getLong(5) <= mr.getLong(1) && mr.getLong(1) <= mr.getLong(0))
        0 else 1).toLong,
      "hits@1 <= hits@3 <= hits@5 <= n_hit <= n_users")
    val r8 = res("mrr_bounds",
      (if (mr.getDouble(6) <= mr.getDouble(2) + 1e-9 &&
        mr.getDouble(6) >= 0.0) 0 else 1).toLong,
      "0 <= MRR@10 <= hit_rate@10")

    // degree_dist: CCDF non-increasing per kind; n_ge(min deg) = kind total
    val dd = graft.graph.Graph.degreeDist(spark, dir).collect()
    val r9 = res("degree_ccdf_monotone",
      dd.groupBy(_.getString(0)).map { case (_, rows) =>
        val s = rows.sortBy(_.getLong(1)).map(_.getLong(3))
        s.zip(s.tail).count { case (a, b) => b > a }.toLong
      }.sum, "P(deg >= d) non-increasing in d per kind")
    val r10 = res("degree_ccdf_head",
      dd.groupBy(_.getString(0)).count { case (_, rows) =>
        val srt = rows.sortBy(_.getLong(1))
        srt.head.getLong(3) != rows.map(_.getLong(2)).sum
      }.toLong, "n_ge at the smallest degree equals the kind's node count")

    // split_balance: observed margins conserve; chi2 >= 0 and constant
    val sb = graft.pipeline.Splits.splitBalance(spark, dir).collect()
    val r11 = res("splitbal_chi2",
      sb.count(r => r.getDouble(5) < 0.0 ||
        r.getDouble(5) != sb.head.getDouble(5)).toLong,
      "chi2_total >= 0 and identical on every row")
    val r12 = res("splitbal_expected",
      (if (math.abs(sb.map(_.getDouble(3)).sum -
        sb.map(_.getLong(2)).sum) < 1e-3) 0 else 1).toLong,
      "sum of expected = sum of observed")

    // bpe_fertility: a word is >= 1 symbol; single-symbol share in [0,1]
    val bf = graft.text.TextQueries.bpeFertility(spark, dir).collect()
    val r13 = res("fertility_floor", bf.count { r =>
      r.getDouble(4) < 1.0 - 1e-9 || r.getDouble(6) < 0.0 ||
        r.getDouble(6) > 1.0
    }.toLong, "fertility >= 1; single_sym_share in [0,1]")

    // cohens_kappa: cells conserve; kappa <= 1; po/pe in [0,1]
    val ck = graft.analytics.Eval.cohensKappa(spark, dir).head()
    val r14 = res("kappa_conserves",
      math.abs(ck.getLong(1) + ck.getLong(2) + ck.getLong(3) +
        ck.getLong(4) - ck.getLong(0)),
      "2x2 cells partition the corpus")
    val r15 = res("kappa_bounds",
      (if (ck.isNullAt(7) || ck.getDouble(7) <= 1.0 + 1e-9) 0 else 1).toLong,
      "kappa <= 1")

    // brier_decomposition: Murphy identity closes through the gap
    val bd = graft.analytics.Eval.brierDecomposition(spark, dir).head()
    val r16 = res("brier_identity",
      (if (math.abs(bd.getDouble(2) - (bd.getDouble(4) - bd.getDouble(5) +
        bd.getDouble(3) + bd.getDouble(6))) < 1e-6) 0 else 1).toLong,
      "BS = REL - RES + UNC + gap")
    val r17 = res("brier_unc_bound",
      (if (bd.getDouble(3) >= 0.0 && bd.getDouble(3) <= 0.25) 0 else 1).toLong,
      "uncertainty = ybar(1-ybar) in [0, 0.25]")

    // gini_lorenz: bounds + revenue conservation against orders
    val gl = graft.analytics.Mining.giniLorenz(spark, dir).collect()
    val r18 = res("gini_bounds", gl.count { r =>
      r.getDouble(3) < 0.0 || r.getDouble(3) >= 1.0 ||
        r.getDouble(4) > 0.5 + 1e-9 || r.getDouble(5) < 0.1 - 1e-9
    }.toLong, "gini in [0,1); bottom50 <= 1/2; top10 >= 1/10")
    val totCents = graft.Tables.orders(spark, dir)
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.expr(
          "CAST(round(o_totalprice * 100) AS BIGINT)"))).head().getLong(0)
    val r19 = res("gini_conservation",
      math.abs(gl.map(_.getLong(2)).sum - totCents),
      "segment revenue sums to the orders total")

    // zorder_stats: same box matches same rows under every layout;
    // the interleave never scans more than natural
    val zs = graft.etl.Layout.zorderStats(spark, dir).collect()
    val r20 = res("zorder_match_invariant",
      zs.groupBy(_.getString(1)).count { case (_, rows) =>
        rows.map(_.getLong(6)).distinct.length != 1
      }.toLong, "rows_match identical across layouts per box")
    val r21 = res("zorder_prunes",
      zs.groupBy(_.getString(1)).count { case (_, rows) =>
        val m = rows.map(r => r.getString(0) -> r.getLong(5)).toMap
        m("zorder") > m("natural")
      }.toLong, "zorder scans <= natural for every box")

    // context_len_sweep: shares monotone in L; token totals constant
    val cs = graft.text.CorpusOps.contextLenSweep(spark, dir).collect()
      .sortBy(_.getLong(0))
    val r22 = res("ctx_monotone",
      (cs.map(_.getDouble(2)).sliding(2).count(w => w(1) > w(0) + 1e-9) +
        cs.map(_.getDouble(3)).sliding(2).count(w => w(1) < w(0) - 1e-9))
        .toLong,
      "trunc share non-increasing, pad share non-decreasing in L")
    val r23 = res("ctx_totals",
      cs.count(_.getLong(6) != cs.head.getLong(6)).toLong,
      "tokens_total identical across candidates")

    // slice_auc: slice positives partition the pooled row; AUC in [0,1]
    val sa = graft.analytics.Eval.sliceAuc(spark, dir).collect()
    val all = sa.filter(_.getString(0) == "ALL").head
    val parts = sa.filter(_.getString(0) != "ALL")
    val r24 = res("sliceauc_partition",
      math.abs(parts.map(_.getLong(1)).sum - all.getLong(1)) +
        math.abs(parts.map(_.getLong(2)).sum - all.getLong(2)),
      "slice pos/neg counts sum to the pooled row")
    val r25 = res("sliceauc_bounds", sa.count { r =>
      !r.isNullAt(3) && (r.getDouble(3) < 0.0 || r.getDouble(3) > 1.0)
    }.toLong, "AUC in [0,1] on every slice")

    // strata_adjust: adjusted diff is a convex combination of the
    // valid per-stratum diffs
    val st8 = graft.analytics.Stats.strataAdjust(spark, dir).collect()
    val diffs = st8.filter(r => !r.isNullAt(5)).map(_.getDouble(5))
    val adj = st8.head.getDouble(7)
    val r26 = res("strata_convex",
      (if (diffs.nonEmpty && adj >= diffs.min - 1e-4 &&
        adj <= diffs.max + 1e-4) 0 else 1).toLong,
      "adjusted diff inside [min, max] of valid stratum diffs")
    val r27 = res("strata_valid_count",
      math.abs(st8.head.getLong(8) - diffs.length.toLong),
      "n_strata_valid = strata with both arms")

    // spearman_corr: both coefficients bounded
    val sc = graft.analytics.Stats.spearmanCorr(spark, dir).head()
    val r28 = res("spearman_bounds",
      (if (math.abs(sc.getDouble(1)) <= 1.0 + 1e-9 &&
        math.abs(sc.getDouble(2)) <= 1.0 + 1e-9) 0 else 1).toLong,
      "|rho| <= 1 and |r| <= 1")

    Seq(r1, r2, r3, r4, r5, r6, r7, r8, r9, r10, r11, r12, r13, r14, r15,
      r16, r17, r18, r19, r20, r21, r22, r23, r24, r25, r26, r27, r28)
  }

  def checkRound8d(spark: SparkSession, dir: String): Seq[Res] = {
    // rank_movers: page size, delta consistency, ordered by |delta|
    val rm = graft.analytics.Growth.rankMovers(spark, dir).collect()
    val r1 = res("movers_page",
      (if (rm.length == graft.analytics.Growth.MoversTopK) 0 else 1).toLong,
      s"exactly ${graft.analytics.Growth.MoversTopK} movers")
    val r2 = res("movers_delta",
      rm.count(r => r.getLong(5) != r.getLong(3) - r.getLong(4)).toLong,
      "rank_delta = rank_h1 - rank_h2")
    val deltas = rm.map(r => math.abs(r.getLong(5)))
    val r3 = res("movers_ordered",
      deltas.zip(deltas.tail).count { case (a, b) => b > a }.toLong,
      "|delta| non-increasing down the page")

    // loo_source_impact: shares sum to 1; n-weighted mixture identity
    val loo = graft.text.CorpusOps.looSourceImpact(spark, dir).collect()
    val r4 = res("loo_shares",
      (if (math.abs(loo.map(_.getDouble(2)).sum - 1.0) < 1e-4) 0 else 1)
        .toLong, "doc shares sum to 1")
    val tn = loo.map(_.getLong(1)).sum
    val overall = loo.map(r => r.getDouble(3) * r.getLong(1)).sum / tn
    val r5 = res("loo_mixture", loo.count { r =>
      val n = r.getLong(1)
      math.abs((r.getDouble(4) * (tn - n) + r.getDouble(3) * n) / tn -
        overall) > 1e-4
    }.toLong, "n-weighted LOO means recombine to the overall mean")

    // upsert_amplification: amp >= 1; day-1 rewrites its own batch;
    // the running ratio recombines from the day columns
    val ua = graft.etl.Layout.upsertAmplification(spark, dir).collect()
    val r6 = res("upsert_amp_floor",
      ua.count(_.getDouble(4) < 1.0 - 1e-9).toLong,
      "CoW write amplification >= 1 every day")
    val r7 = res("upsert_first_day",
      math.abs(ua.head.getLong(3) - ua.head.getLong(1)),
      "day 1 rewrites exactly its own batch")
    val r8 = res("upsert_cum_recombines",
      (if (math.abs(ua.last.getDouble(5) -
        ua.map(_.getLong(3)).sum.toDouble / ua.map(_.getLong(1)).sum)
        < 1e-5) 0 else 1).toLong,
      "final cum_amp = total rewritten / total appended")

    Seq(r1, r2, r3, r4, r5, r6, r7, r8)
  }

  def checkRound8e(spark: SparkSession, dir: String): Seq[Res] = {
    // hash_uniformity: bucket counts conserve; hash chi2 sane for a
    // uniform 100-bucket hash (not catastrophically skewed)
    val hu = graft.analytics.Stats.hashUniformity(spark, dir).collect()
    val r1 = res("hashuni_configs",
      (if (hu.map(_.getString(0)).sorted.toSeq ==
        Seq("hash_100", "parity_2")) 0 else 1).toLong,
      "both bucketing configs present")
    val r2 = res("hashuni_shares", hu.count { r =>
      r.getDouble(5) < r.getDouble(6) ||
        r.getDouble(5) * r.getLong(2) < 1.0 - 1e-6
    }.toLong, "max_share >= min_share and max_share >= 1/k")
    val h100 = hu.find(_.getString(0) == "hash_100").get
    // chi2 ~ chi2(99): mean 99, sd ~14; 5x mean = catastropically biased
    val r3 = res("hashuni_unbiased",
      (if (h100.getDouble(3) < 5 * 99.0) 0 else 1).toLong,
      s"100-bucket hash chi2 ${h100.getDouble(3)} below the bias alarm")

    // tail_risk: CVaR >= VaR per segment; tail counts ~5% of customers
    val tr = graft.analytics.Mining.tailRisk(spark, dir).collect()
    val r4 = res("tailrisk_order",
      tr.count(r => r.getDouble(3) < r.getDouble(2) - 1e-9).toLong,
      "CVaR >= VaR in every segment")
    val r5 = res("tailrisk_count", tr.count { r =>
      val want = r.getLong(1) - (r.getLong(1) * 95L) / 100L
      r.getLong(4) != want
    }.toLong, "tail holds exactly n - 95n div 100 customers")

    // slo_burn: budget_consumed is the all-history burn; alerts imply
    // their component thresholds
    val sb8 = graft.analytics.Growth.sloBurn(spark, dir).collect()
    val r6 = res("slo_flags", sb8.count { r =>
      r.getBoolean(7) != (r.getDouble(3) >= 2.0 && r.getDouble(4) >= 2.0) ||
        r.getBoolean(8) != (r.getDouble(4) >= 1.0 && r.getDouble(5) >= 1.0)
    }.toLong, "alert flags recombine from the burn columns")
    val r7 = res("slo_first_day",
      (if (math.abs(sb8.head.getDouble(3) - sb8.head.getDouble(4)) < 1e-9 &&
        math.abs(sb8.head.getDouble(3) - sb8.head.getDouble(6)) < 1e-6)
        0 else 1).toLong,
      "day 1: 1d burn = 7d burn = budget consumed")

    Seq(r1, r2, r3, r4, r5, r6, r7)
  }

  // ---- round 12: the remaining sf1 oracle-guard skips ----
  // (skyline's unrolled NOT-EXISTS oracle is O(n²) in DuckDB; the five
  // label-chain consumers re-derive the whole MinHash+CC+quality chain
  // in SQL and blow the 60 s guard at sf1. Each gets invariants that
  // pin the output as tightly as the replay would, in linear passes.)

  /** skyline: re-verify the two-stage local/global decomposition by
    * the QUADRATIC dominance definition on the per-date-max frame —
    * dates are calendar-bounded (~2.4 k), so the all-pairs check is a
    * few million comparisons at ANY corpus size, and the expected
    * output reconstructs exactly (orders ⋈ surviving points). */
  def checkSkyline(spark: SparkSession, dir: String): Seq[Res] = {
    val o = graft.Tables.orders(spark, dir)
    val out = graft.analytics.Queries.skyline(spark, dir).cache()
    val byDate = o.groupBy(col("o_orderdate").as("d"))
      .agg(max("o_totalprice").as("p")).cache()
    val frontier = byDate.as("a").join(byDate.as("b"),
      col("b.d") <= col("a.d") && col("b.p") >= col("a.p") &&
        (col("b.d") < col("a.d") || col("b.p") > col("a.p")), "left_anti")
    val expected = o.join(broadcast(frontier),
        o("o_orderdate") === col("d") && o("o_totalprice") === col("p"))
      .select("o_orderkey", "o_orderdate", "o_totalprice")
    val o3 = out.select("o_orderkey", "o_orderdate", "o_totalprice")
    val badMiss = expected.exceptAll(o3).count()
    val badExtra = o3.exceptAll(expected).count()
    byDate.unpersist()
    Seq(res("skyline_dominance", badMiss + badExtra,
      s"output == quadratic-dominance reconstruction (${out.count()} rows)"))
  }

  /** fuzzy_match: soundness via Spark's BUILT-IN levenshtein (the
    * operator decides with the compiled bounded_lev1 kernel), and
    * completeness via a SECOND provably-complete deletion-neighborhood
    * blocking built over the REVERSED names — different key strings,
    * different run-dedup positions, different collision structure —
    * whose verified pair set must match exactly. */
  def checkFuzzy(spark: SparkSession, dir: String): Seq[Res] = {
    val fm = graft.dedup.Fuzzy.fuzzyMatch(spark, dir).cache()
    val badLev = fm.filter(
      levenshtein(col("name_a"), col("name_b")) =!= col("dist") ||
        col("dist") < 0 || col("dist") > 1).count()
    val badOrder = fm.filter(col("key_a") >= col("key_b")).count()
    val badDup =
      fm.count() - fm.select("key_a", "key_b").distinct().count()
    val c = graft.Tables.customer(spark, dir).select(
        col("c_custkey").as("id"), col("c_name").as("name"),
        reverse(col("c_name")).as("rn"))
      .repartition()
    val keyed = c.withColumn("pos", explode(sequence(lit(-1), length(col("rn")) - 1)))
      .filter(col("pos") <= 0 ||
        col("rn").substr(col("pos") + 1, lit(1)) =!=
          col("rn").substr(col("pos"), lit(1)))
      .withColumn("bkey", when(col("pos") < 0, col("rn"))
        .otherwise(concat(
          col("rn").substr(lit(1), col("pos")),
          col("rn").substr(col("pos") + 2, length(col("rn"))))))
      .select("id", "name", "bkey")
    val cand2 = keyed.as("x")
      .join(keyed.hint("shuffle_hash").as("y"), col("x.bkey") === col("y.bkey"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("key_a"), col("y.id").as("key_b"),
        col("x.name").as("na"), col("y.name").as("nb"))
      .filter(levenshtein(col("na"), col("nb")) <= 1)
      .select("key_a", "key_b").distinct()
    val fmk = fm.select("key_a", "key_b")
    val badSet = cand2.exceptAll(fmk).count() + fmk.exceptAll(cand2).count()
    Seq(
      res("fuzzy_verifier", badLev + badOrder + badDup,
        "built-in levenshtein agrees; ordered; distinct"),
      res("fuzzy_complete", badSet,
        s"reversed-name deletion blocking finds the same ${fm.count()} pairs"))
  }

  /** The five label-chain consumers whose sf1 oracles exceed the 60 s
    * guard: each recomputed on INDEPENDENT components — cluster labels
    * from the big-star/small-star algorithm instead of min-label
    * propagation (two algorithms agreeing is checkClusters' own pin),
    * dup flags via a window count instead of the sizes join — and
    * compared EXACTLY. */
  def checkRound12(spark: SparkSession, dir: String): Seq[Res] = {
    import graft.pipeline.{Pipeline, Splits}
    val docs = graft.Tables.documents(spark, dir)
    val star = Pipeline.dedupClustersStar(spark, dir)
      .select("doc_id", "cluster_id").cache()

    // host_quality == recomputation over star labels + window dup flag
    val hq = graft.text.Urls.hostQuality(spark, dir).cache()
    val hosts = graft.text.Urls.urlFrame(docs).select("doc_id", "host")
    val dup = star.withColumn("sz",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .select(col("doc_id"), (col("sz") >= 2).cast("long").as("is_dup"))
    val q = graft.text.TextQueries.textQuality(spark, dir)
      .select(col("doc_id"),
        round(col("quality_score") * 1e6, 0).cast("long").as("q6"))
      .cache()
    val per = hosts.join(dup, "doc_id").join(q, "doc_id")
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"), sum("is_dup").as("n_dup_docs"),
        sum("q6").as("sq6"))
    val tot = per.agg(sum("n_docs").as("t_docs"), sum("n_dup_docs").as("t_dup"))
    val hq2 = per.crossJoin(broadcast(tot))
      .select(col("host"), col("n_docs"), col("n_dup_docs"),
        round(col("n_dup_docs").cast("double") / col("n_docs"), 6)
          .as("dup_frac"),
        round(col("sq6").cast("double") / col("n_docs") / 1e6, 6)
          .as("mean_quality"),
        (col("n_dup_docs") * col("t_docs") > col("t_dup") * col("n_docs"))
          .as("above_avg_dup"),
        (col("n_dup_docs") * col("t_docs") <= lit(2L) * col("t_dup") * col("n_docs"))
          .as("keep"))
    val badHq = hq.exceptAll(hq2).count() + hq2.exceptAll(hq).count()
    val rHq = res("hostq_replay", badHq,
      s"host_quality == star-label/window-dup recomputation (${hq.count()} hosts)")

    // make_splits: partition + leakage-free + labels match + rule replay
    val ms = Splits.makeSplits(spark, dir).cache()
    val nDocs = docs.count()
    val rPart = Res("splits_partition",
      ms.count() == nDocs && ms.select("doc_id").distinct().count() == nDocs,
      s"one split per doc ($nDocs docs)")
    val badVal = ms.filter(!col("split").isin("train", "val", "test")).count()
    val badLeak = ms.groupBy("cluster_id")
      .agg(countDistinct("split").as("k")).filter(col("k") =!= 1).count()
    val badLab = ms.select("doc_id", "cluster_id").exceptAll(star).count() +
      star.exceptAll(ms.select("doc_id", "cluster_id")).count()
    val rSplit = res("splits_leakfree", badVal + badLeak + badLab,
      "every cluster in ONE valid split; labels == star CC")
    // the hash rule replayed per ROW (same function, independent of the
    // column pipeline it rode in) + distribution sanity at cluster grain
    val badRule = ms
      .withColumn("b2", pmod(graft.text.TextFunctions.hash64(
        concat_ws(":", lit("mk"), col("cluster_id"))), lit(100)))
      .filter(col("split") =!= when(col("b2") < Splits.TrainUpto, "train")
        .when(col("b2") < Splits.ValUpto, "val").otherwise("test"))
      .count()
    val cl = ms.select("cluster_id", "split").distinct().cache()
    val nCl = cl.count().toDouble
    val trainShare = cl.filter(col("split") === "train").count() / nCl
    val rShare = Res("splits_share", badRule == 0 &&
      trainShare > 0.70 && trainShare < 0.90,
      s"hash rule replays; train cluster-share $trainShare in [0.70, 0.90]")

    // split_balance: cells re-counted from the (pinned) split frame,
    // derived stats recomputed driver-side from the integer cells
    val sb = graft.pipeline.Splits.splitBalance(spark, dir).collect()
    val cells2 = ms.select("doc_id", "split")
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("split", "source").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val badCells = sb.count(r =>
      cells2.getOrElse((r.getString(0), r.getString(1)), -1L) != r.getLong(2))
    val n = sb.map(_.getLong(2)).sum.toDouble
    val rowT = sb.groupBy(_.getString(0)).map { case (k, v) => k -> v.map(_.getLong(2)).sum }
    val colT = sb.groupBy(_.getString(1)).map { case (k, v) => k -> v.map(_.getLong(2)).sum }
    val chi2 = sb.map { r =>
      val e = rowT(r.getString(0)).toDouble * colT(r.getString(1)) / n
      math.round((r.getLong(2) - e) * (r.getLong(2) - e) / e * 1000000)
    }.sum / 1000000.0
    val badDeriv = sb.count { r =>
      val e = rowT(r.getString(0)).toDouble * colT(r.getString(1)) / n
      math.abs(r.getDouble(3) - e) > 5e-7 ||
        math.abs(r.getDouble(4) - (r.getLong(2) - e) / math.sqrt(e)) > 5e-7 ||
        math.abs(r.getDouble(5) - chi2) > 2e-6 ||
        r.getLong(6) != (rowT.size - 1).toLong * (colT.size - 1)
    }
    val rBal = res("splitbal_replay", (badCells + badDeriv).toLong,
      s"cells recount + driver-side chi2 replay over ${sb.length} cells")

    // quality_dup_bias: the 5 exact integer moments recomputed over
    // star labels via a DIFFERENT aggregation path, floats re-derived
    val qb = graft.pipeline.ClusterStats.qualityDupBias(spark, dir).collect().head
    val sizes = star.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
    val jm = star.join(sizes, "cluster_id").join(q, "doc_id")
      .withColumn("dup", (col("sz") >= 2).cast("int"))
      .agg(count(lit(1)).as("n"), sum("dup").as("n1"),
        sum(when(col("dup") === 1, col("q6")).otherwise(0L)).as("s1"),
        sum("q6").as("s"),
        sum((col("q6").cast("decimal(38,0)") * col("q6").cast("decimal(38,0)"))
          .cast("decimal(38,0)")).as("s2"))
      .collect().head
    val (cn, n1, s1, s) = (jm.getLong(0).toDouble, jm.getLong(1).toDouble,
      jm.getLong(2).toDouble, jm.getLong(3).toDouble)
    val s2 = jm.getDecimal(4).doubleValue()
    val m1 = s1 / n1
    val m0 = (s - s1) / (cn - n1)
    val sd = math.sqrt(s2 / cn - (s / cn) * (s / cn))
    def close(a: Double, b: Double) = math.abs(a - b) < 5e-7
    val rQb = Res("qdupbias_replay",
      qb.getLong(0) == jm.getLong(0) && qb.getLong(1) == jm.getLong(1) &&
        close(qb.getDouble(2), m1 / 1e6) && close(qb.getDouble(3), m0 / 1e6) &&
        close(qb.getDouble(4), (m1 - m0) / 1e6) &&
        close(qb.getDouble(5), (m1 - m0) / sd * math.sqrt(n1 * (cn - n1)) / cn),
      "moments recomputed over star labels; floats re-derived driver-side")

    star.unpersist(); hq.unpersist(); ms.unpersist(); q.unpersist()
    Seq(rHq, rPart, rSplit, rShare, rBal, rQb)
  }

  def runAll(spark: SparkSession, dir: String): Seq[Res] =
    checkClusters(spark, dir) ++ checkIvf(spark, dir) ++ checkBpe(spark, dir) ++
      checkSemantic(spark, dir) ++ checkGraph(spark, dir) ++
      checkBitext(spark, dir) ++ checkIvfPq(spark, dir) ++ checkBfs(spark, dir) ++
      checkKcore(spark, dir) ++ checkGrowth(spark, dir) ++
      checkRound8(spark, dir) ++ checkRound8b(spark, dir) ++
      checkRound8c(spark, dir) ++ checkRound8d(spark, dir) ++
      checkRound8e(spark, dir) ++ checkSkyline(spark, dir) ++
      checkFuzzy(spark, dir) ++ checkRound12(spark, dir)

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/testdata/sf1")
    val spark = graft.SparkEntry.session("graft-invariants", Some(dir))
    val t0 = System.nanoTime()
    // SPARK_GRAFT_INV_ONLY=clusters runs just the CC family — used to
    // record rounds-to-converge at sf5 (VERDICT r08 #8) without paying
    // the full-suite replay there
    val rs = sys.env.get("SPARK_GRAFT_INV_ONLY") match {
      case Some("clusters") => checkClusters(spark, dir)
      case _ => runAll(spark, dir)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    rs.foreach(r => println(
      s"INVARIANT ${r.name} ${if (r.pass) "PASS" else "FAIL"} ${r.detail}"))
    val nf = rs.count(!_.pass)
    println(s"""{"invariants":${rs.size},"failed":$nf,"dir":"$dir","sec":${math.round(secs * 10) / 10.0}}""")
    spark.stop()
    if (nf > 0) sys.exit(1)
  }
}
