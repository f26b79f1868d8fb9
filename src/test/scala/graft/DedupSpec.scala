package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.ann.Ann

class DedupSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf, withConf, withTable}
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
  private def docs = Seq(
    (0L, base, "en"),
    (1L, base, "en"),                                   // exact dup of 0
    (2L, base.replace("lazy", "sleepy"), "en"),         // near dup of 0
    (3L, "completely different content about spark catalyst optimizer rules and physical plans here", "en"),
    (4L, "another unrelated document talking about parquet column pruning and predicate pushdown today", "en"))
    .toDF("doc_id", "text", "lang")

  test("exact dedup groups identical texts") {
    val out = Dedup.exactDedup(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(4))).toMap
    assert(out(0L) == (0L, false))
    assert(out(1L) == (0L, true))   // dup of doc 0
    assert(out(2L)._2 == false)     // near-dup is NOT an exact dup
  }

  test("minhash LSH finds exact and near dup pairs, not unrelated ones") {
    val pairs = Dedup.minhashPairs(docs, 0.25).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), s"exact pair missing from $pairs")
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)),
      s"near pair missing from $pairs")
    assert(!pairs.exists(p => p._2 == 3L && p._1 <= 2L || p._1 == 3L))
  }

  test("incremental dedup checks only new-vs-index, flags the planted dup") {
    // batch = doc_id % 5 == 4; plant doc 4 as a copy of index doc 0,
    // and doc 9 as unrelated new content
    val d = Seq(
      (0L, base, "en"),
      (1L, "some indexed corpus document with its own words entirely", "en"),
      (4L, base, "en"),                                   // new, dup of index doc 0
      (9L, "fresh crawl content that matches nothing in the corpus index at all", "en"))
      .toDF("doc_id", "text", "lang")
    val out = Dedup.dedupIncremental(d).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(out.keySet == Set(4L, 9L), "only new-batch docs are scored")
    assert(out(4L) == (true, Some(0L)), s"planted dup missed: ${out(4L)}")
    assert(out(9L)._1 == false && out(9L)._2.isEmpty)
  }

  test("simhash hamming distance 0 for identical docs") {
    val pairs = Dedup.simhashPairs(docs, 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Number]("hamming").longValue)).toMap
    assert(pairs((0L, 1L)) == 0L)
  }

  test("ngram jaccard scores exact pair 1.0 and near pair high") {
    val pairs = Dedup.ngramJaccardPairs(docs, 0.2).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) == 1.0)
    assert(pairs.get((0L, 2L)).exists(j => j > 0.3 && j < 1.0))
  }

  test("brute-force topk: identical vector ranks first with cosine 1") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f, 0.0f), 0),   // identical to query 0
      (2L, Array(0.0f, 1.0f, 0.0f), 0),
      (3L, Array(0.9f, 0.1f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val top = Ann.bruteForceTopK(vecs, nq = 1, k = 3).collect()
    assert(top(0).getLong(2) == 1L && top(0).getDouble(3) == 1.0)
  }

  test("lsh buckets cover the corpus and topk stays within bucket") {
    val out = Ann.lshTopK(Tables.embeddings(spark, sf)).collect()
    assert(out.forall(_.getInt(2) <= 5))
    // each (q, neighbor) row shares the query bucket by construction
    assert(out.map(_.getLong(1)).distinct.length <= 5)
  }

  test("lsh plane count is a knob: more planes refine buckets monotonically") {
    val emb = Tables.embeddings(spark, sf)
    def pairsAt(p: Int) = Ann.embedCosinePairs(emb, 0.25, planes = p).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    val at8 = pairsAt(8)
    val at12 = pairsAt(12)
    // bucket(p+1) refines bucket(p): equal 12-bit buckets imply equal
    // 8-bit buckets, so the 12-plane candidate set is a subset
    assert(at12.subsetOf(at8), s"${(at12 -- at8).size} pairs not in the 8-plane set")
    assert(at12.size < at8.size || at8.isEmpty)
    // sizing rule: planes ≈ log2(n / targetBucket), clamped to [1, 62]
    assert(Ann.planesFor(5000, 1024) == 3)
    assert(Ann.planesFor(10L * 1000 * 1000 * 1000, 1024) == 24)
    assert(Ann.planesFor(100, 1024) == 1)
  }

  test("minhash recall/precision on planted near-duplicates") {
    // 20 base docs (distinct vocabularies), each with a planted near-dup
    // (one word changed), plus the bases themselves — detector should
    // pair every (base, variant) and nothing across different bases
    val words = (0 until 400).map(i => s"w${i}x")
    val bases = (0 until 20).map { d =>
      (d.toLong, words.slice(d * 20, d * 20 + 20).mkString(" "), "en")
    }
    val variants = bases.map { case (id, text, lang) =>
      (id + 100L, text.replace(s"w${id * 20 + 10}x", "changed"), lang)
    }
    val docs = (bases ++ variants).toDF("doc_id", "text", "lang")
    val pairs = Dedup.minhashPairs(docs, 0.25).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wanted = (0 until 20).map(d => (d.toLong, d + 100L)).toSet
    val recall = wanted.count(pairs.contains).toDouble / wanted.size
    assert(recall >= 0.8, s"recall $recall; found ${pairs.size} pairs")
    // no cross-base false positives (disjoint vocabularies)
    val falsePos = pairs -- wanted
    assert(falsePos.isEmpty, s"false positives: $falsePos")
  }

  test("minhash est_jaccard ~ true jaccard on near pair") {
    val pairs = Dedup.minhashPairs(docs, 0.0).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) == 1.0) // identical docs → identical signatures
  }

  test("persisted band index: indexed incremental dedup matches the one-shot op") {
    withTable("dedup_band_idx") {
      val all = Tables.documents(spark, sf)
      val corpus = all.filter(col("doc_id") % 5 =!= 4)
      val batch = all.filter(col("doc_id") % 5 === 4)
      Dedup.writeBandIndex(corpus, "dedup_band_idx", numBuckets = 4)
      val indexed = Dedup.dedupIncrementalIndexed(spark, batch, "dedup_band_idx")
        .collect().map(_.toSeq).toSeq
      val oneShot = Dedup.dedupIncremental(all).collect().map(_.toSeq).toSeq
      assert(indexed == oneShot,
        s"indexed=${indexed.take(3)}... vs oneShot=${oneShot.take(3)}...")
    }
  }

  test("persisted band index joins with zero exchange on the index side") {
    withTable("dedup_band_idx2") {
      // the 100-TB contract: the corpus-sized index NEVER re-shuffles —
      // only the daily batch is exchanged into the index's bucket layout
      val all = Tables.documents(spark, sf)
      Dedup.writeBandIndex(all.filter(col("doc_id") % 5 =!= 4), "dedup_band_idx2", 4)
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") { // force non-broadcast
        val joined = Dedup.bandIndex(all.filter(col("doc_id") % 5 === 4))
          .withColumnRenamed("doc_id", "new_id").withColumnRenamed("sigs", "new_sigs")
          .join(spark.table("dedup_band_idx2"), Seq("bkey"))
        // materialize THIS frame's own QueryExecution first (collect, not
        // count — count wraps a fresh plan), then inspect the FINAL
        // adaptive plan: pre-execution AQE plans need not show the real
        // exchange count
        assert(joined.collect().length > 0)
        // AdaptiveSparkPlan.toString prints Final AND Initial plan
        // sections — count exchanges in the FINAL section only
        val plan = joined.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
        assert(exchanges == 1, s"want 1 exchange (batch side only), got $exchanges:\n$plan")
        assert(plan.contains("Bucketed: true"),
          s"index side must read its bucketed layout:\n$plan")
      }
    }
  }

  test("band-index maintenance: appends accrete files, compaction drops them, " +
       "bucketed zero-exchange plan and results survive") {
    withTable("dedup_band_idx3", "dedup_band_idx3_ref") {
      import graft.etl.Loader
      val all = Tables.documents(spark, sf)
      val tbl = "dedup_band_idx3"
      val buckets = 4
      // day 0: seed with 3/5 of the corpus; days 1-2: append a fifth each,
      // with a 1-file/bucket budget so day 2's append triggers compaction
      Dedup.writeBandIndex(all.filter(col("doc_id") % 5 === 0), tbl, buckets)
      val f0 = Loader.dataFileCount(spark, tbl)
      // day 1: generous budget — observe raw accretion, no compaction
      val c1 = Dedup.appendBandIndex(all.filter(col("doc_id") % 5 === 1), tbl,
        buckets, maxFilesPerBucket = 1000)
      val f1 = Loader.dataFileCount(spark, tbl)
      assert(!c1 && f1 > f0, s"append must accrete files: $f0 -> $f1")
      // day 2: 1-file/bucket budget — the accreted files force a rewrite
      val c2 = Dedup.appendBandIndex(all.filter(col("doc_id") % 5 === 2), tbl,
        buckets, maxFilesPerBucket = 1)
      assert(c2, "a 1-file/bucket budget must force a compaction")
      val f2 = Loader.dataFileCount(spark, tbl)
      assert(f2 == buckets, // aligned repartition => exactly one file per bucket
        s"compaction must leave one file per bucket, got $f2")
      // parity: the compacted index answers exactly like a fresh one-shot index
      val batch = all.filter(col("doc_id") % 5 === 4)
      val got = Dedup.dedupIncrementalIndexed(spark, batch, tbl)
        .collect().map(_.toSeq).toSeq
      Dedup.writeBandIndex(all.filter(col("doc_id") % 5 < 3), "dedup_band_idx3_ref", buckets)
      val want = Dedup.dedupIncrementalIndexed(spark, batch, "dedup_band_idx3_ref")
        .collect().map(_.toSeq).toSeq
      assert(got == want)
      // the zero-exchange contract survives the catalog-level swap
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val joined = Dedup.bandIndex(batch)
          .withColumnRenamed("doc_id", "new_id").withColumnRenamed("sigs", "new_sigs")
          .join(spark.table(tbl), Seq("bkey"))
        assert(joined.collect().length > 0)
        val plan = joined.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
        assert(exchanges == 1, s"want 1 exchange (batch side only), got $exchanges:\n$plan")
        assert(plan.contains("Bucketed: true"))
      }
    }
  }

  test("dedup_bloom: verdicts identical to the bloom-free exact formulation") {
    import graft.text.TextFunctions.{hash64, normalize}
    val docs = Tables.documents(spark, sf)
    val got = Dedup.dedupBloom(docs).collect().map(_.toSeq).toSeq
    // bloom-free reference: plain left join new-batch hashes against
    // index hashes (the oracle formulation)
    val hashed = docs.select(col("doc_id"),
      hash64(normalize(col("text"))).as("content_hash"))
    val isNew = col("doc_id") % 5 === 4
    val want = hashed.filter(isNew)
      .join(hashed.filter(!isNew).groupBy("content_hash")
        .agg(min("doc_id").as("match_id")), Seq("content_hash"), "left")
      .select(col("doc_id"), col("match_id").isNotNull.as("is_duplicate"),
        col("match_id"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got == want)
    // the batch has planted near-dup COPIES (GenData/driver corpus), so
    // some exact dups must exist for the test to be non-vacuous at sf
    assert(got.nonEmpty)
  }

  test("containment: planted excerpt found; brute-force parity on the corpus") {
    // an excerpt (first 8 words of base) inside a long unrelated wrapper:
    // low Jaccard, high containment — the pair Jaccard blocking misses
    val wrapper = ("unrelated boilerplate filler " * 20) +
      base.split(" ").take(8).mkString(" ")
    val planted = docs.union(Seq(
      (10L, base.split(" ").take(8).mkString(" "), "en"),
      (11L, wrapper, "en")).toDF("doc_id", "text", "lang"))
    val pout = Dedup.containmentPairs(planted).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(pout.contains((10L, 11L)), s"planted excerpt pair missing: $pout")
    assert(pout((10L, 11L)) >= 0.8)

    // brute-force parity on the real sf corpus: same grams, same
    // df-blocking rule, exact containment
    val grams = Tables.documents(spark, sf).select(col("doc_id"),
        array_distinct(graft.functions.native.shingle_hashes(
          graft.functions.native.token_poly_hashes(col("text")), 3)).as("g"))
      .filter(size(col("g")) > 0).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val dfCount = grams.toSeq.flatMap { case (d, g) => g.map(_ -> d) }
      .groupBy(_._1).view.mapValues(_.size).toMap
    val rare = grams.view.mapValues(_.filter(s =>
      dfCount(s) >= 2 && dfCount(s) <= Dedup.ContainMaxDf)).toMap
    val cand = (for {
      (a, ga) <- rare.toSeq; (b, gb) <- rare.toSeq
      if a < b && ga.exists(gb.contains)
    } yield (a, b)).toSet
    val brute = cand.flatMap { case (a, b) =>
      val inter = grams(a).intersect(grams(b)).size
      val c = math.rint(inter.toDouble / math.min(grams(a).size, grams(b).size) * 1e6) / 1e6
      if (c >= Dedup.ContainMinScore) Some((a, b) -> (inter.toLong, c)) else None
    }.toMap
    val got = Dedup.containmentPairs(Tables.documents(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got == brute, s"got ${got.size} pairs, brute ${brute.size}")
  }

  test("dedup_cdc = brute content-defined chunking over the engine's token hashes") {
    import graft.dedup.Substring
    val hashes = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.functions.native.token_poly_hashes(
          org.apache.spark.sql.functions.col("text")).as("th"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    // brute CDC: boundary token (h % D == 0) STARTS a new chunk
    val chunksByDoc = hashes.view.mapValues { th =>
      val cids = th.scanLeft(0L) { (cid, h) =>
        cid + (if (h % Substring.CdcDivisor == 0) 1 else 0) }.tail
      th.zip(cids).groupBy(_._2).values
        .map(_.map(_._1).mkString(",")).toSeq
    }.toMap
    val totals = chunksByDoc.values.flatten
      .groupBy(identity).view.mapValues(_.size).toMap
    val got = Substring.dedupCdc(spark, sf).collect()
    assert(got.length == hashes.size)
    got.foreach { r =>
      val chunks = chunksByDoc(r.getLong(0))
      val dup = chunks.filter(totals(_) >= 2)
      assert(r.getLong(1) == chunks.size.toLong, s"n_chunks doc ${r.getLong(0)}")
      assert(r.getLong(2) == dup.size.toLong, "dup_chunks")
      val nTok = chunks.map(_.count(_ == ',') + 1).sum
      val dupTok = dup.map(_.count(_ == ',') + 1).sum
      assert(r.getLong(3) == nTok.toLong && r.getLong(4) == dupTok.toLong)
      assert(math.abs(r.getDouble(5) - dupTok.toDouble / nTok) < 1e-4)
    }
    // CDC shift-resilience: chunk multiset of a suffix overlaps the
    // original far more than fixed windows would — sanity: every chunk
    // set is non-empty and coverage ∈ [0,1]
    got.foreach(r => assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0))
  }
}
