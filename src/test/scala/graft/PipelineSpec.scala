package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.Pipeline

class PipelineSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}

  test("stratified sampling downsamples the dominant stratum") {
    val full = Tables.documents(spark, sf).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = Pipeline.sampleStratified(spark, sf).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val enRate = sampled.getOrElse("en", 0L).toDouble / full("en")
    val deRate = sampled.getOrElse("de", 0L).toDouble / full("de")
    assert(enRate < 0.5, s"en rate $enRate should be ~0.2")
    assert(deRate > 0.5, s"de rate $deRate should be ~0.8")
  }

  test("sampling is deterministic across invocations") {
    val a = Pipeline.sampleStratified(spark, sf).collect().map(_.getLong(0))
    val b = Pipeline.sampleStratified(spark, sf).collect().map(_.getLong(0))
    assert(a.sameElements(b))
  }

  test("packed bins never exceed capacity by more than one document") {
    val over = Pipeline.packSequences(spark, sf)
      .groupBy("lang", "bin").agg(sum("n_tokens").as("fill"), count(lit(1)).as("n"))
      // cumsum-div packing: a bin overflows by at most its last doc
      .filter(col("fill") >= Pipeline.PackCapacity * 2)
    assert(over.count() == 0)
    val binsPerLang = Pipeline.packSequences(spark, sf)
      .groupBy("lang").agg(countDistinct("bin").as("nb")).collect()
    assert(binsPerLang.forall(_.getLong(1) >= 1))
  }

  test("fixed-size sampling: exactly k per language, deterministic") {
    val s = Pipeline.sampleFixed(spark, sf)
    val perLang = s.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val langSizes = Tables.documents(spark, sf).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    langSizes.foreach { case (lang, n) =>
      assert(perLang(lang) == math.min(n, Pipeline.FixedPerStratum.toLong),
        s"$lang: ${perLang.get(lang)} of $n")
    }
    assert(s.collect().toSeq == Pipeline.sampleFixed(spark, sf).collect().toSeq)
  }

  test("quality-weighted sampling: acceptance rate tracks the score") {
    val q = graft.text.TextQueries.textQuality(spark, sf)
      .select(col("doc_id"), col("quality_score"))
    val sampled = Pipeline.sampleWeighted(spark, sf)
    val n = q.count().toDouble
    val meanScore = q.agg(avg("quality_score")).head().getDouble(0)
    val rate = sampled.count() / n
    // E[accept] = mean score; 500 draws → generous tolerance
    assert(math.abs(rate - meanScore) < 0.1, s"rate $rate vs mean score $meanScore")
    // deterministic: same invocation twice yields identical ids
    val a = sampled.collect().map(_.getLong(0)).toSeq
    val b = Pipeline.sampleWeighted(spark, sf).collect().map(_.getLong(0)).toSeq
    assert(a == b)
  }

  test("keep-best dedup keeps exactly one doc per cluster, the best one") {
    val kb = Pipeline.dedupKeepBest(spark, sf).cache()
    val perCluster = kb.groupBy("cluster_id")
      .agg(sum(when(col("is_kept"), 1).otherwise(0)).as("kept"))
    assert(perCluster.filter(col("kept") =!= 1).count() == 0)
    // the kept doc has the max score of its cluster (tie → lowest id)
    val best = kb.groupBy("cluster_id")
      .agg(max(struct(col("quality_score"), -col("doc_id"))).as("b"))
      .select(col("cluster_id"), col("b.quality_score").as("mx"),
        (-col("b.col2")).as("mx_id"))
    val kept = kb.filter(col("is_kept"))
      .join(best, "cluster_id")
    assert(kept.filter(col("quality_score") =!= col("mx") ||
      col("doc_id") =!= col("mx_id")).count() == 0)
    kb.unpersist()
  }

  test("corpus manifest: no eval sources, no contamination, subset of filter") {
    val manifest = Pipeline.corpusManifest(spark, sf).collect()
    assert(manifest.nonEmpty)
    assert(manifest.forall(r =>
      !graft.pipeline.Contamination.TestSources.contains(r.getString(2))))
    assert(manifest.forall(_.getDouble(5) <
      graft.pipeline.Contamination.FlagThreshold))
    val filterIds = Pipeline.corpusFilter(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(manifest.forall(r => filterIds.contains(r.getLong(0))))
  }

  test("corpus mix: weights normalize, cap binds, allocation fits budget") {
    val rows = Pipeline.corpusMix(spark, sf).collect()
    val weights = rows.map(_.getAs[Double]("mix_weight"))
    assert(math.abs(weights.sum - 1.0) < 1e-4)
    assert(weights.forall(_ > 0))
    // total allocation never exceeds the budget (integer floors round down)
    val alloc = rows.map(_.getAs[Long]("alloc_tokens")).sum
    assert(alloc <= Pipeline.MixBudget && alloc > Pipeline.MixBudget * 9 / 10)
    // the dominant language is capped below its natural share
    val head = rows.maxBy(_.getAs[Double]("natural_share"))
    if (head.getAs[Double]("natural_share") > Pipeline.MixCapNum.toDouble / Pipeline.MixCapDen)
      assert(head.getAs[Double]("mix_weight") < head.getAs[Double]("natural_share"))
    rows.foreach { r =>
      assert(r.getAs[Double]("sampling_rate") <= 1.0)
      assert(r.getAs[Double]("epochs") >= r.getAs[Double]("sampling_rate") - 1e-9)
    }
  }

  test("big-star/small-star CC: logarithmic rounds on a 100-node chain") {
    import spark.implicits._
    // a 100-node chain is the adversarial shape for min-label
    // propagation (O(diameter) ≈ 100 rounds); the alternating
    // algorithm must resolve it in O(log n) rounds
    val chain = (0 until 99).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id_a", "id_b")
    val (labels, rounds) = Pipeline.ccBigSmallStar(chain)
    assert(rounds <= 10, s"took $rounds rounds on a 100-node chain")
    val m = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1 to 99).foreach(i => assert(m(i.toLong) == 0L, s"node $i → ${m.get(i.toLong)}"))
  }

  test("big-star/small-star CC: a loop cut before convergence reports -1 rounds") {
    import spark.implicits._
    val chain = (0 until 99).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    assert(Pipeline.ccBigSmallStar(chain, maxIter = 1)._2 == -1)
  }

  test("star CC matches propagation CC on the corpus") {
    val byProp = graft.tools.InvariantCheck.propagationLabels(spark, sf)._1.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byStar = Pipeline.dedupClustersCached(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(byProp.sameElements(byStar))
  }

  test("connected components merge chained near-duplicates") {
    import spark.implicits._
    // build a corpus where 0~1 and 1~2 are near-dups but 0 and 2 are
    // linked only through 1 (chain), plus an isolated doc
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (0L, base, "en"),
      (1L, base + " nu", "en"),
      (2L, base + " nu xi", "en"),
      (3L, "totally different words entirely unrelated content goes here now", "en"))
      .toDF("doc_id", "text", "lang")
    // the MinHash pairing the cluster labels read, on local docs
    val pairs = graft.dedup.Dedup.minhashPairs(docs, 0.25).select("id_a", "id_b")
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 1L)) && got.contains((1L, 2L)))
    // full operator on corpus: every doc labeled, canonical = min of cluster
    val clusters = Pipeline.dedupClustersCached(spark, sf)
    assert(clusters.count() == Tables.documents(spark, sf).count())
    assert(clusters.filter(col("cluster_id") > col("doc_id")).count() == 0)
  }

  test("precomputed-label overloads reproduce the derive-everything queries") {
    // the 100-TB shape: cluster labels / filter survivors / contamination
    // / mixture are persisted once per crawl and REUSED — the overloads
    // taking those frames must be byte-identical to the one-shot ops
    val labels = Pipeline.dedupClustersCached(spark, sf).select("doc_id", "cluster_id")
    val quality = graft.text.TextQueries.textQuality(spark, sf)
      .select(col("doc_id"), col("quality_score"))
    val viaLabels = Pipeline.dedupKeepBest(labels, quality).collect().map(_.toSeq).toSeq
    val oneShot = Pipeline.dedupKeepBest(spark, sf).collect().map(_.toSeq).toSeq
    assert(viaLabels == oneShot)

    val docs = Tables.documents(spark, sf)
    val viaFrames = Pipeline.corpusManifest(
      docs,
      Pipeline.corpusFilter(spark, sf),
      graft.pipeline.Contamination.decontaminate(docs)
        .select(col("doc_id"), col("contamination")),
      Pipeline.corpusMix(spark, sf)
        .select(col("lang"), col("lang_tokens"), col("alloc_tokens")))
      .collect().map(_.toSeq).toSeq
    val manifest = Pipeline.corpusManifest(spark, sf).collect().map(_.toSeq).toSeq
    assert(viaFrames == manifest)
  }

  test("doc_chunk: window/stride boundary semantics") {
    import graft.text.TextFunctions.tokens
    val W = Pipeline.ChunkWindow
    val S = Pipeline.ChunkStride
    val chunks = Pipeline.docChunk(spark, sf)
    val nToks = Tables.documents(spark, sf)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n"))
    val joined = chunks.join(nToks, "doc_id").cache()
    try {
      // every chunk starts at idx*stride and holds 1..W tokens
      assert(joined.filter(col("chunk_start") =!= col("chunk_idx") * S).count() == 0)
      assert(joined.filter(col("chunk_tokens") < 1 || col("chunk_tokens") > W).count() == 0)
      // chunk count per doc = 1 + ceil(max(n-W,0)/S)
      val bad = joined.groupBy("doc_id").agg(
          count(lit(1)).as("got"), first("n").as("n"))
        .withColumn("want", lit(1) +
          greatest(ceil((col("n") - W).cast("double") / S), lit(0.0)).cast("long"))
        .filter(col("got") =!= col("want"))
      assert(bad.count() == 0)
      // the last chunk reaches exactly the end of the doc
      val lastBad = joined.groupBy("doc_id").agg(
          max(col("chunk_start") + col("chunk_tokens")).as("covered"),
          first("n").as("n"))
        .filter(col("covered") =!= col("n"))
      assert(lastBad.count() == 0)
      // short docs (n <= W) are exactly one whole-doc chunk
      val short1 = joined.filter(col("n") <= W)
      assert(short1.filter(col("chunk_idx") =!= 0).count() == 0)
      assert(short1.filter(col("chunk_tokens") =!= col("n")).count() == 0)
    } finally joined.unpersist()
  }

  test("doc_chunk hashes match independently sliced token windows") {
    import graft.text.TextFunctions.{hash64, tokens}
    val W = Pipeline.ChunkWindow
    val S = Pipeline.ChunkStride
    // recompute each chunk hash from the raw text with a separate
    // slice expression (posexplode over starts instead of sequence)
    val docs = Tables.documents(spark, sf).limit(50)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val want = docs
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("chunk_idx", explode(sequence(lit(0L),
        greatest(ceil((col("n") - W).cast("double") / S).cast("long"), lit(0L)))))
      .select(col("doc_id"), col("chunk_idx"),
        hash64(concat_ws(" ",
          slice(col("toks"), (col("chunk_idx") * S + 1).cast("int"), lit(W))))
          .as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = Pipeline.docChunk(spark, sf)
      .join(docs.select("doc_id"), "doc_id")
      .select("doc_id", "chunk_idx", "chunk_hash")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want)
  }

  test("sample_aes = brute A-ES top-k; weighted inclusion beats uniform") {
    import graft.pipeline.Pipeline
    val scores = graft.text.TextQueries.textQuality(spark, sf)
      .select("doc_id", "quality_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    def key(id: Long, w: Double): Double = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"aes:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val u = (java.lang.Long.parseLong(md5.take(15), 16) % 1000000
        + 0.5) / 1000000.0
      val k = math.log(u) / math.max(w, 0.001)
      new java.math.BigDecimal(k)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    val expected = scores.map { case (id, w) => (id, w, key(id, w)) }
      .sortBy { case (id, _, k) => (-k, id) }
      .take(math.min(Pipeline.AesK, scores.length))
    val got = graft.pipeline.Pipeline.sampleAes(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.sortBy(x => (-x._3, x._1)).toSeq == expected.toSeq)
    // A-ES law: E[key] grows with w, so the selected set's mean weight
    // should not be BELOW the corpus mean (weighted sampling pulls
    // high-quality docs in expectation)
    if (scores.length > Pipeline.AesK)
      assert(got.map(_._2).sum / got.length >=
        scores.map(_._2).sum / scores.length - 0.05)
  }

  test("cluster_size_dist = brute size histogram; doc shares sum to 1") {
    import graft.pipeline.ClusterStats
    val labels = Pipeline.dedupClustersCached(spark, sf)
      .select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sizes = labels.groupBy(_._2).view.mapValues(_.size).values.toSeq
    val expected = sizes.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val got = ClusterStats.clusterSizeDist(spark, sf).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      assert(r.getLong(1) == expected(r.getLong(0).toInt),
        s"size ${r.getLong(0)}")
      assert(r.getLong(2) == r.getLong(0) * r.getLong(1))
    }
    assert(got.map(_.getLong(2)).sum == labels.length.toLong)
    assert(math.abs(got.map(_.getDouble(3)).sum - 1.0) < 1e-4)
  }

  test("quality_dup_bias = brute point-biserial over integer micro-units") {
    import graft.pipeline.ClusterStats
    val labels = Pipeline.dedupClustersCached(spark, sf)
      .select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val csize = labels.groupBy(_._2).view.mapValues(_.size).toMap
    val q = graft.text.TextQueries.textQuality(spark, sf)
      .select("doc_id", "quality_score").collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6))).toMap
    val rows = labels.map { case (d, c) => (csize(c) >= 2, q(d)) }
    val n = rows.length.toDouble
    val (dup, uniq) = rows.partition(_._1)
    val m1 = dup.map(_._2).sum.toDouble / dup.length
    val m0 = uniq.map(_._2).sum.toDouble / uniq.length
    val s = rows.map(_._2).sum.toDouble
    val s2 = rows.map(v => BigInt(v._2) * BigInt(v._2)).sum.toDouble
    val sd = math.sqrt(s2 / n - (s / n) * (s / n))
    val r = ClusterStats.qualityDupBias(spark, sf).collect().head
    assert(r.getLong(0) == rows.length.toLong)
    assert(r.getLong(1) == dup.length.toLong)
    assert(math.abs(r.getDouble(2) - m1 / 1e6) < 1e-5)
    assert(math.abs(r.getDouble(3) - m0 / 1e6) < 1e-5)
    assert(math.abs(r.getDouble(4) - (m1 - m0) / 1e6) < 1e-5)
    val rpb = (m1 - m0) / sd * math.sqrt(dup.length.toDouble * uniq.length) / n
    assert(math.abs(r.getDouble(5) - rpb) < 1e-4)
    assert(math.abs(r.getDouble(5)) <= 1.0 + 1e-9)
  }
}
