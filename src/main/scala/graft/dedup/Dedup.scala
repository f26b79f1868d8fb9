package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextFunctions._

/** Dedup operators — SURVEY.md §2 items 21–25.
  *
  * Generalizes the reference's track_id dedup
  * (/root/reference/dags/sql/de_spotify_silver.sql row_number dedup) to
  * the near-duplicate family a training-data pipeline needs.
  *
  * Scale design: every pair-producing operator goes through *candidate
  * blocking* (LSH band join, sig-chunk join, (lang,length) blocks,
  * label blocks) so pair counts stay O(n·bucket) instead of O(n²); the
  * only shuffles are hash joins on block keys. Signatures are computed
  * in a single codegen'd projection (higher-order functions on arrays,
  * no UDFs). All arithmetic stays below 2^63 so the DuckDB oracle can
  * replay it exactly (its BIGINT ops are overflow-checked).
  */
object Dedup {

  // ---- MinHash constants (single source shared by the native
  // expressions AND the oracle-SQL generation) ----
  val P: Long = graft.functions.HashConstants.P
  val NumHashes = 16
  val Bands = 4
  val RowsPerBand = 4
  def hashA(i: Int): Long = graft.functions.HashConstants.hashA(i)
  def hashB(i: Int): Long = graft.functions.HashConstants.hashB(i)

  /** doc_id + k-shingle hash array via the native expressions
    * ([[graft.functions.TokenPolyHashes]] / ShinglePolyHashes): one
    * compiled pass per row — no string shingles, no per-shingle rehash,
    * no interpreted higher-order lambdas. */
  def shingleHashes(docs: DataFrame, k: Int = 3): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.native.shingle_hashes(
          graft.functions.native.token_poly_hashes(col("text")), k).as("sh"))
      .filter(size(col("sh")) > 0)

  def shingleHashesSql(k: Int = 3): String =
    s"""SELECT doc_id, ${shingleHashCombineSql("th", k)} AS sh
       |FROM (SELECT doc_id, ${tokenHashesSql("text")} AS th FROM documents) t
       |WHERE len(${shingleHashCombineSql("th", k)}) > 0""".stripMargin

  /** MinHash signature array + band hashes b0..b3. The signature is ONE
    * native-expression column; band hashes string-join 4-signature
    * slices (same bytes as the oracle's concat_ws over s0..s3), via the
    * compiled LongSliceJoin kernel (the array_join∘transform∘slice
    * chain was the last interpreted-HOF in the dedup plans). */
  def minhashSignatures(sh: DataFrame): DataFrame = {
    val withSig = sh.withColumn("sigs",
      graft.functions.native.minhash_signature(col("sh"), NumHashes))
    (0 until Bands).foldLeft(withSig) { (df, b) =>
      df.withColumn(s"b$b", hash64(graft.functions.native.long_slice_join(
        col("sigs"), b * RowsPerBand, RowsPerBand, ":")))
    }
  }

  /** §2.22 MinHash+LSH near-dup pairs: band-bucket join → estimated
    * jaccard from signature agreement. */
  def minhashPairs(docs: DataFrame, minEstJaccard: Double = 0.25): DataFrame = {
    val sig = minhashSignatures(shingleHashes(docs))
      .select((Seq(col("doc_id"), col("sigs")) ++
        (0 until Bands).map(b => col(s"b$b"))): _*)
    val bands = sig.select(col("doc_id"), col("sigs"),
      explode(array((0 until Bands).map(b =>
        struct(lit(b).as("band"), col(s"b$b").as("bh"))): _*)).as("e"))
      .select(col("doc_id"), col("sigs"), col("e.band"), col("e.bh"))
    val a = bands.select(col("doc_id").as("id_a"), col("sigs").as("sa"),
      col("band"), col("bh"))
    val b = bands.select(col("doc_id").as("id_b"), col("sigs").as("sb"),
      col("band"), col("bh"))
    a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(graft.functions.native.equal_count(col("sa"), col("sb"))
          .cast("double") / NumHashes, 6).as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= minEstJaccard)
      .orderBy("id_a", "id_b")
  }

  def minhashPairsSql(minEstJaccard: Double = 0.25): String = {
    val sigExprs = (0 until NumHashes).map { i =>
      s"list_min(list_transform(sh, h -> (${hashA(i)} * (h % $P) + ${hashB(i)}) % $P)) AS s$i"
    }.mkString(",\n    ")
    val bandExprs = (0 until Bands).map { b =>
      val cols = (b * RowsPerBand until (b + 1) * RowsPerBand).map(i => s"s$i")
      s"${hash64Sql(s"concat_ws(':', ${cols.mkString(", ")})")} AS b$b"
    }.mkString(",\n    ")
    val sigList = (0 until NumHashes).map(i => s"s$i").mkString(", ")
    val bandUnion = (0 until Bands).map(b =>
      s"SELECT doc_id, sigs, $b AS band, b$b AS bh FROM sig").mkString("\n  UNION ALL ")
    s"""WITH sh AS (${shingleHashesSql()}),
       |sigraw AS (SELECT doc_id,
       |    $sigExprs
       |  FROM sh),
       |sig AS MATERIALIZED (SELECT doc_id, [$sigList] AS sigs,
       |    $bandExprs
       |  FROM sigraw),
       |bands AS ($bandUnion),
       |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
       |  WHERE a.doc_id < b.doc_id)
       |SELECT id_a, id_b,
       |  round(len(list_filter(generate_series(1, $NumHashes),
       |    i -> sa.sigs[i] = sb.sigs[i])) / ${NumHashes}.0, 6) AS est_jaccard
       |FROM pairs JOIN sig sa ON pairs.id_a = sa.doc_id
       |           JOIN sig sb ON pairs.id_b = sb.doc_id
       |WHERE round(len(list_filter(generate_series(1, $NumHashes),
       |    i -> sa.sigs[i] = sb.sigs[i])) / ${NumHashes}.0, 6) >= $minEstJaccard
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** §2.21 exact dedup: canonical = min doc_id per content hash.
    *
    * Window formulation, not groupBy + join-back (measured per stage
    * at sf5): the join-back self-joins a DERIVED
    * frame, so Spark re-evaluates the md5+normalize scan on BOTH
    * sides (the scan is the expensive part — 35 s of the 143 s stage
    * CPU at sf5) and then pays a second corpus shuffle for the join.
    * Group-min/count over a content_hash window computes the hash
    * ONCE and shuffles ONCE (the window sort is within-partition);
    * measured at sf5: 39.0 → 8.7 s wall, 143 → 31 s stage CPU,
    * identical output. This was VERDICT r9's one untriaged scale
    * outlier — the 6.5× on the 5× step was the duplicated scan +
    * join build growing out of cache, both gone by construction. */
  def exactDedup(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("content_hash")
    docs.select(col("doc_id"), hash64(normalize(col("text"))).as("content_hash"))
      .withColumn("canonical_id", min("doc_id").over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .select(col("doc_id"), col("content_hash"), col("canonical_id"),
        col("group_size"), (col("doc_id") =!= col("canonical_id")).as("is_duplicate"))
      .orderBy("doc_id")
  }

  val exactDedupSql: String =
    s"""WITH hashed AS (SELECT doc_id, ${hash64Sql(normalizeSql("text"))} AS content_hash
       |  FROM documents),
       |canon AS (SELECT content_hash, min(doc_id) AS canonical_id,
       |    count(*) AS group_size FROM hashed GROUP BY content_hash)
       |SELECT doc_id, hashed.content_hash, canonical_id, group_size,
       |  doc_id != canonical_id AS is_duplicate
       |FROM hashed JOIN canon ON hashed.content_hash = canon.content_hash
       |ORDER BY doc_id""".stripMargin

  /** §2.113 bloom-prefiltered incremental exact dedup: the 100 TB
    * daily-increment shape. The new batch (doc_id % 5 == 4, the
    * [[dedupIncremental]] convention) is the small side; its content
    * hashes build a [[graft.functions.BloomAgg]] bloom (one mergeable
    * aggregate — map-side partial blooms OR-ed in the reduce), and the
    * 1-row bloom broadcasts over the corpus-sized index scan, pruning
    * it to rows that MIGHT match before any shuffle. Blooms have no
    * false negatives, so the downstream exact-join verdicts are
    * identical to the bloom-free formulation (the oracle) — at 1%
    * false-positive sizing the index side of the equi-join shrinks
    * from |corpus| to ≈ |matches| + 1% of |corpus|, which is the
    * difference between shuffling 100 TB and shuffling a day's worth.
    * Spark's AQE runtime bloom join applies the same trick only when
    * its cost model fires; building it explicitly makes the pruning
    * unconditional and the bloom reusable across the day's queries. */
  def dedupBloom(docs: DataFrame): DataFrame = {
    import graft.functions.BloomFilter.{bloom_agg, bloom_contains}
    val isNew = col("doc_id") % 5 === 4
    val hashed = docs.select(col("doc_id"),
      hash64(normalize(col("text"))).as("content_hash"))
    val nw = hashed.filter(isNew)
    val idx = hashed.filter(!isNew)
    val bloom = nw.agg(bloom_agg(col("content_hash")).as("bf"))
    val candIdx = idx.crossJoin(broadcast(bloom)) // 1-row tiny-stat broadcast
      .filter(bloom_contains(col("bf"), col("content_hash")))
    val matches = candIdx.groupBy("content_hash")
      .agg(min(col("doc_id")).as("match_id"))
    // |matches| ≤ |new batch| + bloom false positives — always small
    nw.join(broadcast(matches), Seq("content_hash"), "left")
      .select(col("doc_id"), col("match_id").isNotNull.as("is_duplicate"),
        col("match_id"))
      .orderBy("doc_id")
  }

  val dedupBloomSql: String =
    s"""WITH hashed AS (SELECT doc_id, ${hash64Sql(normalizeSql("text"))} AS content_hash
       |  FROM documents),
       |m AS (SELECT content_hash, min(doc_id) AS match_id
       |  FROM hashed WHERE doc_id % 5 != 4 GROUP BY content_hash)
       |SELECT n.doc_id, m.match_id IS NOT NULL AS is_duplicate, m.match_id
       |FROM hashed n LEFT JOIN m ON n.content_hash = m.content_hash
       |WHERE n.doc_id % 5 = 4
       |ORDER BY n.doc_id""".stripMargin

  // ---- SimHash ----
  /** Signature width. SimHash bits must scale like ~2·log₂(n) to hold
    * the random-pair false-positive rate constant: at 32 bits this
    * corpus (every doc drawn from the same 31-word vocabulary, so per-
    * bit agreement between UNRELATED docs is far above ½) saturated —
    * the sf1 run (50 k docs) emitted 29 M hamming≤3 pairs, quadratic
    * output by specification, 100+ s however computed. 48 bits is the
    * widest that still replays exactly in the DuckDB oracle (bit 63 is
    * BIGINT's sign; 1<<47 and the ±1 bit-sums stay comfortably inside
    * 2⁶³), and drops unrelated-pair collisions by orders of magnitude
    * while 1–2-token mutations of a ~54-token doc still flip ≤3 bits. */
  val SimBits = 48
  val ChunkBits = 12
  val Chunks = 4

  // Same soundness guard as Multimodal's pHash blocking: the pigeonhole
  // argument needs the chunk layout to cover every signature bit and
  // maxDist (default 3) < Chunks — raising SimBits without reworking
  // the chunks would silently miss qualifying pairs.
  require(Chunks * ChunkBits >= SimBits && 3 < Chunks,
    s"simhash blocking unsound: $Chunks chunks x $ChunkBits bits must cover " +
      s"SimBits=$SimBits and default maxDist=3 < chunks")

  /** §2.23 SimHash near-dup pairs: 12-bit chunk blocking → Hamming ≤
    * maxDist, via the shared [[ChunkBlocking]] engine — round-13
    * distinct-signature collapse (join work scales with signature
    * entropy, not corpus size: the 31-word-vocab corpus repeats
    * signatures heavily, and repeated signatures were the measured
    * 1.76 × 10⁹-candidate quadratic term at sf5) plus RECURSIVE
    * hot-bucket splitting (buckets over [[ChunkBlocking.HotBucketCap]]
    * distinct rows re-key on outside-bit cells until every bucket
    * fits the cap or the ≤ 2^w width floor). Identical-sig doc pairs
    * expand back through an output-bound self-join; every row that
    * shuffle carries is an emitted answer pair. */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3,
      hotCap: Int = ChunkBlocking.HotBucketCap): DataFrame = {
    require(maxDist < Chunks,
      s"pigeonhole blocking misses pairs when maxDist=$maxDist >= Chunks=$Chunks")
    val sigs = docs
      .select(col("doc_id"),
        graft.functions.native.simhash(
          graft.functions.native.token_poly_hashes(col("text")), SimBits).as("sig"))
    ChunkBlocking.pairs(sigs, SimBits, ChunkBits, Chunks, maxDist, hotCap)
      .select(col("id_a"), col("id_b"), col("sig_a").as("sim_a"),
        col("sig_b").as("sim_b"), col("hamming"))
      .orderBy("id_a", "id_b")
  }

  def simhashPairsSql(maxDist: Int = 3): String = {
    val chunkUnion = (0 until Chunks).map(c =>
      s"SELECT doc_id, sim, $c AS chunk, (sim >> ${c * ChunkBits}) % ${1 << ChunkBits} AS cv FROM sigs")
      .mkString("\n  UNION ALL ")
    s"""WITH toks AS (SELECT doc_id, ${tokenHashesSql("text")} AS th
       |  FROM documents WHERE len(${tokensSql(normalizeSql("text"))}) > 0),
       |sigs AS (SELECT doc_id,
       |    CAST(list_sum(list_transform(generate_series(0, ${SimBits - 1}), j ->
       |      CASE WHEN list_sum(list_transform(th, h ->
       |        CASE WHEN ((1103515245 + 997*j) * (h % $P) + (12345 + 7919*j)) % $P & 1 = 1
       |        THEN 1 ELSE -1 END)) > 0
       |      THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS sim
       |  FROM toks),
       |chunks AS ($chunkUnion),
       |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.sim AS sim_a, b.sim AS sim_b
       |  FROM chunks a JOIN chunks b ON a.chunk = b.chunk AND a.cv = b.cv
       |  WHERE a.doc_id < b.doc_id)
       |SELECT id_a, id_b, sim_a, sim_b,
       |  CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
       |FROM pairs WHERE bit_count(xor(sim_a, sim_b)) <= $maxDist
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** §2.24 n-gram Jaccard pairs, MinHash-band candidate generation.
    *
    * A (lang, length-bucket) block is unbounded — every English doc of
    * a common length pairs quadratically, which is the plan that dies
    * at 100 TB. Instead candidates come from the same banded-LSH
    * equi-join `minhashPairs` uses (bucket sizes are bounded by actual
    * near-duplicate density, not corpus demographics), and exact
    * n-gram Jaccard is computed on candidates only. Candidate pairs
    * are distinct'd on (id_a, id_b) BEFORE re-joining the gram arrays,
    * so the wide array payload is never shuffled through the dedup. */
  def ngramJaccardPairs(docs: DataFrame, minJaccard: Double = 0.2): DataFrame = {
    // NOT sorted/merge-kernel here (unlike containmentPairs, r14): the
    // banded-LSH candidate set is small at the 0.2 threshold, so the
    // per-pair intersect is cold while the per-doc sort_array would be
    // paid on EVERY doc — measured 0.8 → 1.1 s at sf0.1. The kernel
    // only pays where candidate pairs ≫ docs (containment's rare-
    // shingle index).
    val grams = docs.select(col("doc_id"),
        array_distinct(graft.functions.native.shingle_hashes(
          graft.functions.native.token_poly_hashes(col("text")), 3)).as("g"))
      .filter(size(col("g")) > 0)
    // min over a distinct set == min over the multiset, so the MinHash
    // signature of `g` matches minhashPairs' signature of the raw grams
    val bands = minhashSignatures(grams.withColumn("sh", col("g")))
      .select(col("doc_id"),
        explode(array((0 until Bands).map(b =>
          struct(lit(b).as("band"), col(s"b$b").as("bh"))): _*)).as("e"))
      .select(col("doc_id"), col("e.band"), col("e.bh"))
    val cand = bands.select(col("doc_id").as("id_a"), col("band"), col("bh"))
      .join(bands.select(col("doc_id").as("id_b"), col("band"), col("bh")),
        Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(grams.select(col("doc_id").as("id_a"), col("g").as("ga")), "id_a")
      .join(grams.select(col("doc_id").as("id_b"), col("g").as("gb")), "id_b")
      // |A∪B| = |A|+|B|-|A∩B| on already-distinct arrays: one set op
      // per pair instead of two
      .withColumn("_inter", size(array_intersect(col("ga"), col("gb"))))
      .withColumn("jaccard", round(col("_inter").cast("double") /
        (size(col("ga")) + size(col("gb")) - col("_inter")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** §2.87 incremental dedup — the production daily-crawl shape: a new
    * batch (doc_id % 5 == 4 stands in for "today's crawl") is checked
    * against the EXISTING corpus index only. The join is asymmetric:
    * new×index band-bucket candidates, never new×new or index×index —
    * at 100 TB the index band table is precomputed and bucketed on
    * disk, the daily batch is comparatively tiny (broadcastable), so
    * the incremental check never rescans the corpus. Every new doc
    * reports its best index match (max est-jaccard, ties → lowest id)
    * and a duplicate verdict at `minEstJaccard`. */
  def dedupIncremental(docs: DataFrame, minEstJaccard: Double = 0.25): DataFrame = {
    val sig = minhashSignatures(shingleHashes(docs))
      .select((Seq(col("doc_id"), col("sigs")) ++
        (0 until Bands).map(b => col(s"b$b"))): _*)
    val isNew = col("doc_id") % 5 === 4
    val bands = sig.select(col("doc_id"), col("sigs"),
      explode(array((0 until Bands).map(b =>
        struct(lit(b).as("band"), col(s"b$b").as("bh"))): _*)).as("e"))
      .select(col("doc_id"), col("sigs"), col("e.band"), col("e.bh"))
    val idx = bands.filter(!isNew).select(col("doc_id").as("idx_id"),
      col("sigs").as("idx_sigs"), col("band"), col("bh"))
    val nw = bands.filter(isNew).select(col("doc_id").as("new_id"),
      col("sigs").as("new_sigs"), col("band"), col("bh"))
    val est = round(graft.functions.native.equal_count(
      col("new_sigs"), col("idx_sigs")).cast("double") / NumHashes, 6)
    val best = nw.join(idx, Seq("band", "bh"))
      .select(col("new_id"), col("idx_id"), col("new_sigs"), col("idx_sigs"))
      .distinct()
      .withColumn("est", est)
      .groupBy("new_id")
      .agg(max_by(struct(col("idx_id"), col("est")),
        struct(col("est"), -col("idx_id"))).as("b"))
      .select(col("new_id"), col("b.idx_id").as("best_match"),
        col("b.est").as("est_jaccard"))
    sig.filter(isNew).select(col("doc_id"))
      // |best| <= |new batch| — always the small side, broadcast it
      .join(broadcast(best.withColumnRenamed("new_id", "doc_id")), Seq("doc_id"), "left")
      .withColumn("is_duplicate",
        coalesce(col("est_jaccard") >= minEstJaccard, lit(false)))
      .select("doc_id", "is_duplicate", "best_match", "est_jaccard")
      .orderBy("doc_id")
  }

  // ---- persisted band index (§2.105) ----

  /** One row per (doc, band): `(doc_id, sigs, bkey)` where `bkey`
    * folds the band ordinal into the band hash (`xxhash64(band, bh)`)
    * so the whole LSH blocking key is a SINGLE column — the shape a
    * bucketed on-disk index needs (bucket spec + join key = `bkey`).
    * Candidate semantics match the (band, bh) pair key modulo xxhash64
    * collisions between distinct (band, bh) pairs (~2⁻⁶⁴; a spurious
    * candidate is merely scored and loses the argmax). */
  def bandIndex(docs: DataFrame): DataFrame = {
    val sig = minhashSignatures(shingleHashes(docs))
    sig.select(col("doc_id"), col("sigs"),
      explode(array((0 until Bands).map(b =>
        xxhash64(lit(b), col(s"b$b"))): _*)).as("bkey"))
  }

  /** Persist the corpus's band index ONCE as a `bkey`-bucketed catalog
    * table ([[graft.etl.Loader.writeBucketed]]). This is what makes
    * [[dedupIncremental]] incremental across RUNS, not just within
    * one: the daily check joins the new batch against this table with
    * ZERO exchange on the index side (plan-asserted in DedupSpec) —
    * at 100 TB the index is the corpus-sized side and re-shuffling it
    * every day is the cost that matters. Appending a day's accepted
    * docs is an INSERT INTO the same bucketed table (Spark routes new
    * rows to the matching bucket files), so the index stays joinable
    * shuffle-free as it grows. */
  def writeBandIndex(docs: DataFrame, table: String, numBuckets: Int = 8): Unit =
    graft.etl.Loader.writeBucketed(bandIndex(docs), table, Seq("bkey"), numBuckets)

  /** Daily maintenance: append a batch's accepted docs to the band
    * index IN its bucketed layout (shuffle-free future joins), then
    * compact when the accreted small files per bucket pass the
    * threshold — each append adds a file per touched bucket, so an
    * index fed daily crosses it in ~`maxFilesPerBucket` days. The
    * compaction preserves the bucket spec (catalog-level swap), so the
    * zero-exchange join plan asserted in DedupSpec survives any number
    * of append/compact cycles. Returns true when a compaction ran. */
  def appendBandIndex(docs: DataFrame, table: String, numBuckets: Int = 8,
      maxFilesPerBucket: Int = 4): Boolean = {
    graft.etl.Loader.appendBucketed(bandIndex(docs), table, Seq("bkey"), numBuckets)
    graft.etl.Loader.compactBucketed(docs.sparkSession, table, Seq("bkey"),
      numBuckets, maxFilesPerBucket)
  }

  /** [[dedupIncremental]] against a persisted [[writeBandIndex]] table:
    * same best-match + verdict contract, but the index side is the
    * pre-bucketed catalog table — only the (comparatively tiny) new
    * batch is hashed, banded, and shuffled. Spec-only like the other
    * catalog-table ops (§2.41): the DuckDB oracle has no catalog, and
    * the semantics are parity-checked against the oracle-green
    * `dedup_incremental` instead. */
  def dedupIncrementalIndexed(spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame, indexTable: String,
      minEstJaccard: Double = 0.25): DataFrame = {
    val idx = spark.table(indexTable).select(col("doc_id").as("idx_id"),
      col("sigs").as("idx_sigs"), col("bkey"))
    val nw = bandIndex(newDocs).select(col("doc_id").as("new_id"),
      col("sigs").as("new_sigs"), col("bkey"))
    val est = round(graft.functions.native.equal_count(
      col("new_sigs"), col("idx_sigs")).cast("double") / NumHashes, 6)
    val best = nw.join(idx, Seq("bkey"))
      .select(col("new_id"), col("idx_id"), col("new_sigs"), col("idx_sigs"))
      .distinct()
      .withColumn("est", est)
      .groupBy("new_id")
      .agg(max_by(struct(col("idx_id"), col("est")),
        struct(col("est"), -col("idx_id"))).as("b"))
      .select(col("new_id"), col("b.idx_id").as("best_match"),
        col("b.est").as("est_jaccard"))
    newDocs.select(col("doc_id"))
      .join(broadcast(best.withColumnRenamed("new_id", "doc_id")), Seq("doc_id"), "left")
      .withColumn("is_duplicate",
        coalesce(col("est_jaccard") >= minEstJaccard, lit(false)))
      .select("doc_id", "is_duplicate", "best_match", "est_jaccard")
      .orderBy("doc_id")
  }

  def dedupIncrementalSql(minEstJaccard: Double = 0.25): String = {
    val sigExprs = (0 until NumHashes).map { i =>
      s"list_min(list_transform(sh, h -> (${hashA(i)} * (h % $P) + ${hashB(i)}) % $P)) AS s$i"
    }.mkString(",\n    ")
    val bandExprs = (0 until Bands).map { b =>
      val cols = (b * RowsPerBand until (b + 1) * RowsPerBand).map(i => s"s$i")
      s"${hash64Sql(s"concat_ws(':', ${cols.mkString(", ")})")} AS b$b"
    }.mkString(",\n    ")
    val sigList = (0 until NumHashes).map(i => s"s$i").mkString(", ")
    val bandUnion = (0 until Bands).map(b =>
      s"SELECT doc_id, sigs, $b AS band, b$b AS bh FROM sig").mkString("\n  UNION ALL ")
    s"""WITH sh AS (${shingleHashesSql()}),
       |sigraw AS (SELECT doc_id,
       |    $sigExprs
       |  FROM sh),
       |sig AS MATERIALIZED (SELECT doc_id, [$sigList] AS sigs,
       |    $bandExprs
       |  FROM sigraw),
       |bands AS ($bandUnion),
       |cand AS (SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS idx_id
       |  FROM bands n JOIN bands i ON n.band = i.band AND n.bh = i.bh
       |  WHERE n.doc_id % 5 = 4 AND i.doc_id % 5 != 4),
       |scored AS (SELECT new_id, idx_id,
       |    round(len(list_filter(generate_series(1, $NumHashes),
       |      k -> sn.sigs[k] = si.sigs[k])) / ${NumHashes}.0, 6) AS est
       |  FROM cand JOIN sig sn ON cand.new_id = sn.doc_id
       |             JOIN sig si ON cand.idx_id = si.doc_id),
       |best AS (SELECT new_id, idx_id, est,
       |    row_number() OVER (PARTITION BY new_id ORDER BY est DESC, idx_id) AS rk
       |  FROM scored)
       |SELECT d.doc_id, coalesce(b.est >= $minEstJaccard, false) AS is_duplicate,
       |  b.idx_id AS best_match, b.est AS est_jaccard
       |FROM (SELECT doc_id FROM sig WHERE doc_id % 5 = 4) d
       |LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON d.doc_id = b.new_id
       |ORDER BY d.doc_id""".stripMargin
  }

  def ngramJaccardPairsSql(minJaccard: Double = 0.2): String = {
    val sigExprs = (0 until NumHashes).map { i =>
      s"list_min(list_transform(g, h -> (${hashA(i)} * (h % $P) + ${hashB(i)}) % $P)) AS s$i"
    }.mkString(",\n    ")
    val bandExprs = (0 until Bands).map { b =>
      val cols = (b * RowsPerBand until (b + 1) * RowsPerBand).map(i => s"s$i")
      s"${hash64Sql(s"concat_ws(':', ${cols.mkString(", ")})")} AS b$b"
    }.mkString(",\n    ")
    val bandUnion = (0 until Bands).map(b =>
      s"SELECT doc_id, $b AS band, b$b AS bh FROM sig").mkString("\n  UNION ALL ")
    s"""WITH toks AS (SELECT doc_id, ${tokenHashesSql("text")} AS th FROM documents),
       |grams AS (SELECT doc_id, list_distinct(${shingleHashCombineSql("th", 3)}) AS g
       |  FROM toks),
       |gr AS MATERIALIZED (SELECT doc_id, g FROM grams WHERE len(g) > 0),
       |sigraw AS (SELECT doc_id,
       |    $sigExprs
       |  FROM gr),
       |sig AS MATERIALIZED (SELECT doc_id,
       |    $bandExprs
       |  FROM sigraw),
       |bands AS ($bandUnion),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
       |  WHERE a.doc_id < b.doc_id)
       |SELECT id_a, id_b,
       |  round(len(list_intersect(ga.g, gb.g)) /
       |    CAST(len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)) AS DOUBLE), 6) AS jaccard
       |FROM cand JOIN gr ga ON cand.id_a = ga.doc_id
       |          JOIN gr gb ON cand.id_b = gb.doc_id
       |WHERE round(len(list_intersect(ga.g, gb.g)) /
       |    CAST(len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)) AS DOUBLE), 6) >= $minJaccard
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Rare-shingle posting bound: shingles appearing in more than this
    * many docs generate no candidate pairs (they are non-discriminative
    * boilerplate, and their posting lists would pair quadratically). */
  val ContainMaxDf = 20
  /** Minimum containment (|A∩B| / min(|A|,|B|)) to report. */
  val ContainMinScore = 0.8

  /** §2.153 containment near-dup detection: pairs where the SMALLER
    * shingle set is mostly inside the larger — the quote/excerpt/
    * superset relation (a doc embedded in a boilerplate wrapper, a
    * chapter inside a book) that Jaccard structurally misses: a 50-gram
    * doc fully contained in a 5 000-gram doc has J ≈ 0.01 and never
    * collides in MinHash bands, but containment 1.0 (Broder's
    * resemblance-vs-containment distinction, SEQUENCES'97).
    *
    * Candidates therefore come from a RARE-SHINGLE inverted index, not
    * MinHash bands: explode grams, keep shingles in 2..[[ContainMaxDf]]
    * docs, pair docs sharing ≥1 such shingle. The df cap bounds every
    * posting list, so the candidate join is Σ C(df,2) ≤ (df cap)²/2 per
    * shingle — hash-partitioned, hot-key-free BY CONSTRUCTION (the cap
    * is the blocking guarantee, the same role the band hash plays in
    * §2.22). Wide gram arrays join only after the candidate distinct,
    * same as §2.24. The one blind spot — a pair ALL of whose shared
    * shingles are corpus-common — is the deliberate blocking tradeoff
    * (such overlap is boilerplate by definition), and both engines
    * apply the identical rule. */
  def containmentPairs(docs: DataFrame,
      minScore: Double = ContainMinScore): DataFrame = {
    // lazy localCheckpoint: grams feeds the posting explode AND both
    // final gram-array joins — without the barrier the tokenize +
    // shingle-hash pass (the query's dominant compute) re-ran 3x
    // (12 parquet scans in the compiled plan). sort_array: the pair
    // verifier below intersects via the round-14 sorted-merge kernel
    // (one O(m log m) sort per DOC here instead of a hash set per
    // PAIR there); order feeds nothing else (posting explodes to set
    // semantics, size() is order-blind).
    val grams = graft.Barrier("containment.grams", docs.select(col("doc_id"),
        sort_array(array_distinct(graft.functions.native.shingle_hashes(
          graft.functions.native.token_poly_hashes(col("text")), 3))).as("g"))
      .filter(size(col("g")) > 0))
    val posting = grams.select(col("doc_id"), explode(col("g")).as("shg"))
    // shuffle_hash pins: rareSh, rare, and cand are all DATA-PROPORTIONAL
    // (rare shingles and their candidate pairs grow with the corpus), but
    // their narrow schemas read as broadcastable at test SF — the
    // interval_overlap stats trap (SURVEY §6 round 5). A corpus-sized
    // broadcast cannot survive real scale; the pinned shuffle join can.
    val rareSh = posting.groupBy("shg").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, ContainMaxDf)).select("shg")
    val rare = posting.join(rareSh.hint("shuffle_hash"), "shg")
    val cand = rare.select(col("doc_id").as("id_a"), col("shg"))
      .join(rare.select(col("doc_id").as("id_b"), col("shg"))
        .hint("shuffle_hash"), Seq("shg"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand.hint("shuffle_hash")
      .join(grams.select(col("doc_id").as("id_a"), col("g").as("ga")), "id_a")
      .hint("shuffle_hash")
      .join(grams.select(col("doc_id").as("id_b"), col("g").as("gb")), "id_b")
      // sorted-merge intersection count (arrays sorted+distinct at
      // construction above): same integer as
      // size(array_intersect(ga, gb)), no per-pair hash set
      .withColumn("n_common",
        graft.functions.native.sorted_intersect_count(col("ga"), col("gb")))
      .withColumn("containment", round(col("n_common") /
        least(size(col("ga")), size(col("gb"))).cast("double"), 6))
      .filter(col("containment") >= minScore)
      .select("id_a", "id_b", "n_common", "containment")
      .orderBy("id_a", "id_b")
  }

  def containmentPairsSql(minScore: Double = ContainMinScore): String =
    s"""WITH toks AS (SELECT doc_id, ${tokenHashesSql("text")} AS th FROM documents),
       |grams AS (SELECT doc_id, list_distinct(${shingleHashCombineSql("th", 3)}) AS g
       |  FROM toks),
       |gr AS MATERIALIZED (SELECT doc_id, g FROM grams WHERE len(g) > 0),
       |posting AS (SELECT doc_id, unnest(g) AS shg FROM gr),
       |rare AS (SELECT p.doc_id, p.shg FROM posting p
       |  JOIN (SELECT shg FROM posting GROUP BY shg
       |        HAVING count(*) BETWEEN 2 AND $ContainMaxDf) r USING (shg)),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM rare a JOIN rare b ON a.shg = b.shg
       |  WHERE a.doc_id < b.doc_id)
       |SELECT id_a, id_b,
       |  CAST(len(list_intersect(ga.g, gb.g)) AS BIGINT) AS n_common,
       |  round(len(list_intersect(ga.g, gb.g)) /
       |    CAST(least(len(ga.g), len(gb.g)) AS DOUBLE), 6) AS containment
       |FROM cand JOIN gr ga ON cand.id_a = ga.doc_id
       |          JOIN gr gb ON cand.id_b = gb.doc_id
       |WHERE round(len(list_intersect(ga.g, gb.g)) /
       |    CAST(least(len(ga.g), len(gb.g)) AS DOUBLE), 6) >= $minScore
       |ORDER BY id_a, id_b""".stripMargin

  /** §2.206 MinHash estimator calibration: for every LSH candidate
    * pair, the signature-agreement estimate (§2.22) against the exact
    * n-gram Jaccard (§2.24), rolled up per estimate decile — the audit
    * that says whether the [[NumHashes]]-hash signature is accurate
    * enough for the dedup threshold in use (at 16 hashes the standard
    * error is √(J(1−J)/16) ≈ 0.12 — the table makes the theory
    * observable, and a drift in it flags a broken hash family before
    * bad merges ship). Candidates come from the SAME band index both
    * estimators use, so the comparison adds two doc-grain joins on a
    * pair-sized frame — no new corpus-proportional work; at 100 TB
    * this runs as a side output of the dedup pass. Means are rounded
    * 4 dp (band-level aggregates; per-pair inputs are 6 dp decimals). */
  def minhashCalibration(docs: DataFrame): DataFrame = {
    val est = minhashPairs(docs, 0.0)
    val exact = ngramJaccardPairs(docs, 0.0)
    est.join(exact, Seq("id_a", "id_b"))
      .withColumn("band", floor(col("est_jaccard") * 10).cast("int"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_pairs"),
        round(avg("est_jaccard"), 4).as("mean_est"),
        round(avg("jaccard"), 4).as("mean_exact"),
        round(avg(round(abs(col("est_jaccard") - col("jaccard")), 6)), 4)
          .as("mean_abs_err"))
      .orderBy("band")
  }

  def minhashCalibrationSql: String =
    s"""SELECT CAST(floor(est_jaccard * 10) AS INTEGER) AS band,
       |  count(*) AS n_pairs,
       |  round(avg(est_jaccard), 4) AS mean_est,
       |  round(avg(jaccard), 4) AS mean_exact,
       |  round(avg(round(abs(est_jaccard - jaccard), 6)), 4) AS mean_abs_err
       |FROM (${minhashPairsSql(0.0)}) e
       |JOIN (${ngramJaccardPairsSql(0.0)}) x USING (id_a, id_b)
       |GROUP BY 1 ORDER BY 1""".stripMargin
}
