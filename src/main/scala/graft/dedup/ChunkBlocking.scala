package graft.dedup

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Chunk-blocked Hamming-distance pair join over DISTINCT signatures
  * with RECURSIVE hot-bucket splitting — the shared blocking engine
  * behind `dedup_simhash` and `mm_dedup`.
  *
  * Baseline scheme (rounds 1–4): explode each `totalBits`-bit signature
  * into `nChunks` chunks of `chunkBits`; the pigeonhole principle
  * (maxDist < nChunks) guarantees every pair within Hamming ≤ maxDist
  * agrees exactly on ≥1 chunk, so a self-equi-join on (chunk, value)
  * finds every qualifying pair with no all-pairs scan. Round 5 added
  * ONE level of outside-bits sub-splitting for buckets over `hotCap`.
  *
  * Round 13 redesign, after round 12 measured the superlinear candidate
  * term (sf5→sf20 wall ratio 7.0× at 4× data). Probed stage-by-stage at
  * both rungs this round:
  *
  *  1. **Collapse to distinct signatures before blocking.** The
  *     equi-join runs on `SELECT DISTINCT sig`, so join work scales
  *     with signature entropy, not corpus size. On THIS corpus the
  *     collapse is modest (sf20: 1 M docs → 924 k sigs) — its real
  *     role is the adversarial guard: m clones of one signature agree
  *     on every cell, so NO re-blocking can ever spread them (they
  *     would ride every split level hot, multiplying rows by
  *     (maxDist+1) per level); collapsed, they cost one row, and their
  *     m·(m−1)/2 doc pairs come from the output-bound expansion below.
  *  2. **Recursive constant-cell sub-splitting.** A bucket over
  *     `hotCap` re-keys its members on `maxDist + 1` cells of the bits
  *     outside the agreed prefix (pigeonhole again: ≤ maxDist
  *     differing bits over maxDist + 1 cells leave ≥1 cell that fully
  *     agrees), repeating while buckets stay hot. Distinct signatures
  *     give the recursion a hard floor: bucket members agree on every
  *     pinned bit and are pairwise distinct, so a bucket at remaining
  *     width w holds ≤ 2^w rows — once 2^w ≤ hotCap (or the cell
  *     layout can delete no further bits) no bucket can be hot. For
  *     the 48-bit / 12-bit-chunk / maxDist-3 layout the width ladder
  *     is 36 → 27 → 21 → 18 → 15 → 12 → 9: ≤ 6 split levels ever, and
  *     benign corpora exit at level 0 with the exact single-key plan
  *     of rounds 1–4.
  *
  * What the measurements say the remaining cost IS: the answer. At
  * sf5 → sf20 (4× docs) qualifying pairs grow 7.17 M → 113.9 M
  * (15.9× — the synthetic corpus densifies quadratically), candidates
  * 284 M → 2.14 G (7.5×, BELOW output growth: blocking efficiency
  * improves with n, candidates/answer 40× → 19×). Splitting deeper
  * (cap 256) was measured SLOWER at sf20: candidates only −31% (the
  * dense buckets are genuine near-duplicates that agree on most cells
  * and cannot spread) while row multiplication grows every level — the
  * default cap stays 1024.
  *
  * Bucket identity is one running `xxhash64` key folded per level
  * (narrow 28 B rows keep the self-join enumeration in the codegen'd
  * fast path — a carried path-array variant measured 17× slower at
  * sf20) plus the explicit `chunk` ordinal. Exactly-once emission:
  * the round-5 first-matching-chunk predicate still kills the
  * cross-chunk duplicates (the dominant multiplicity) for free, and a
  * DISTINCT over qualifying (sig_a, sig_b) pairs collapses the
  * residual sub-level co-occurrences inside split buckets — its input
  * is qualifying DISTINCT-SIG pairs × ≤ split-level multiplicity,
  * orders of magnitude below the doc-pair count the round-5 design
  * measured a DISTINCT against (166 s at sf1). A 64-bit key collision
  * merely merges two buckets — candidates still face the exact
  * Hamming + first-chunk + DISTINCT filters, so correctness never
  * rests on the hash.
  *
  * The only data-sized shuffles are the distinct, the leaf self-join,
  * and the output-bound expansions. Residual skew (one leaf bucket of
  * near-identical-but-distinct signatures) is ≤ hotCap rows by
  * construction except at the width floor, where it is ≤ 2^9 = 512.
  */
object ChunkBlocking {

  /** Default population cap above which a bucket re-keys on outside-bit
    * cells — i.e. the knob trading candidate ENUMERATION (cheap:
    * codegen'd xor+popcount, measured ~2.6 ns/candidate at sf20)
    * against split ROW MULTIPLICATION (expensive: every level re-keys
    * hot members ×(maxDist+1) through a window + checkpoint +
    * shuffle). The sf20 cap sweep this round: 256 → 100.6 s, 1024 →
    * 44.3 s, 4096 → 29.8 s, 16384 → 29.5 s (identical 113.9 M-pair
    * output at every cap). 4096 is the knee — one 12-bit chunk's worth
    * of distinct signatures per bucket, ≤ ~8.4 M candidate pairs per
    * worst-case leaf, before the doubled enumeration of 16384 buys
    * nothing further. */
  val HotBucketCap = 4096

  /** Cell width for splitting a `w`-bit remainder into `k` cells. */
  private def subBitsFor(w: Int, k: Int): Int = (w + k - 1) / k

  /** Remainder width bound after one split: deleting any one cell
    * leaves at most (k − 1) · subBits significant bits. */
  private def nextWidth(w: Int, k: Int): Int = (k - 1) * subBitsFor(w, k)

  /** A split level makes progress iff it can delete ≥1 bit. */
  private def canSplit(w: Int, k: Int): Boolean = w > 0 && nextWidth(w, k) < w

  /** Distinct signatures in a bucket are pairwise distinct within the
    * remaining `w` bits, so population ≤ 2^w — below this cap no
    * bucket can be hot and splitting is over. */
  private def fitsCap(w: Int, hotCap: Int): Boolean =
    w <= 62 && (1L << w) <= hotCap

  /** Static split ladder for the layout: the width entering each level
    * the recursion could ever reach. */
  private def ladder(totalBits: Int, chunkBits: Int, k: Int,
      hotCap: Int): List[Int] = {
    val out = ArrayBuffer[Int]()
    var w = totalBits - chunkBits
    while (canSplit(w, k) && !fitsCap(w, hotCap)) {
      out += w
      w = nextWidth(w, k)
    }
    out.toList
  }

  /** `v` with the `bits`-wide cell at static index `c` deleted: bits
    * above the cell shifted down into its place, bits below kept. */
  private def deleteCell(v: Column, c: Int, bits: Int): Column = {
    val hi = shiftleft(shiftright(v, (c + 1) * bits), c * bits)
    if (c == 0) hi else hi.bitwiseOR(v % lit(1L << (c * bits)))
  }

  /** First index in [0, cells) where the two values' `bits`-wide cells
    * agree — the cross-chunk exactly-once selector. */
  private[graft] def firstMatchingCell(a: Column, b: Column,
      cells: Int, bits: Int): Column =
    (0 until cells).foldRight(lit(cells): Column) { (c, els) =>
      when(shiftright(a, c * bits) % lit(1L << bits) ===
           shiftright(b, c * bits) % lit(1L << bits), lit(c)).otherwise(els)
    }

  /** One split level over hot rows (sig, chunk, key, ov): explode each
    * row into `k` (cell, value) coordinates folded into the running
    * bucket key, carrying the cell-deleted remainder for the next
    * level. */
  private def splitLevel(hot: DataFrame, w: Int, k: Int, lvl: Int): DataFrame = {
    val sb = subBitsFor(w, k)
    val cells = array((0 until k).map(s => struct(
      lit(s).as("s"),
      (shiftright(col("ov"), s * sb) % lit(1L << sb)).as("sv"),
      deleteCell(col("ov"), s, sb).as("nxt"))): _*)
    hot.select(col("sig"), col("chunk"), col("key"), explode(cells).as("e"))
      .select(col("sig"), col("chunk"),
        xxhash64(col("key"), lit(lvl), col("e.s"), col("e.sv")).as("key"),
        col("e.nxt").as("ov"))
  }

  /** Leaf bucket rows (sig, chunk, key) for a DISTINCT-signature frame:
    * the chunk explosion, then recursive splitting of hot buckets until
    * every bucket fits `hotCap` or the width floor is reached. Driver
    * loop over the static ladder (≤ ~6 iterations); each level is
    * localCheckpointed so the shared final/hot split reads one
    * materialization and the plan never nests level lineage (the
    * cluster_size_dist plan-string lesson, TRIAGE_sf20_oom_r12.md). */
  private def keyedLeaves(uniq: DataFrame, totalBits: Int, chunkBits: Int,
      nChunks: Int, maxDist: Int, hotCap: Int): DataFrame = {
    val k = maxDist + 1
    val chunkArr = array((0 until nChunks).map(c => struct(
      lit(c).as("c"),
      (shiftright(col("sig"), c * chunkBits) % lit(1L << chunkBits)).as("cv"),
      deleteCell(col("sig"), c, chunkBits).as("ov"))): _*)
    val rows0 = uniq.select(col("sig"), explode(chunkArr).as("e"))
      .select(col("sig"), col("e.c").as("chunk"),
        xxhash64(col("e.c"), col("e.cv")).as("key"), col("e.ov").as("ov"))
    val levels = ladder(totalBits, chunkBits, k, hotCap)
    if (levels.isEmpty) return rows0.drop("ov")
    // Level-0 hotness: ≤ nChunks · 2^chunkBits buckets — a tiny
    // partial-aggregated stat, collected and branded with a literal
    // isin predicate so the common no-hot-bucket corpus runs the EXACT
    // single-key plan of rounds 1–4 with zero added stages. Falls back
    // to a broadcast size join if the hot set is unexpectedly large.
    val sizes = rows0.groupBy("key").agg(count(lit(1)).as("_n"))
    val hotKeys = sizes.filter(col("_n") > hotCap)
      .limit(257).collect().map(_.getLong(0))
    if (hotKeys.isEmpty) return rows0.drop("ov")
    val tagged =
      if (hotKeys.length <= 256)
        rows0.withColumn("_hot", col("key").isin(hotKeys.toSeq: _*))
      else
        rows0.join(broadcast(sizes), Seq("key"))
          .withColumn("_hot", col("_n") > hotCap).drop("_n")
    val finals = ArrayBuffer[DataFrame](
      tagged.filter(!col("_hot")).select("sig", "chunk", "key"))
    var cur = splitLevel(tagged.filter(col("_hot")), levels.head, k, lvl = 0)
    var lvl = 1
    // Deeper levels hold only hot-bucket members (a shrinking subset);
    // bucket counts there are unbounded, so hotness comes from a
    // window count instead of a driver collect.
    for (w <- levels.tail) {
      if (cur != null) {
        val cnt = graft.Barrier("chunk_blocking.level", cur.withColumn("_n",
            count(lit(1)).over(Window.partitionBy("key"))))
        finals += cnt.filter(col("_n") <= hotCap).select("sig", "chunk", "key")
        val hot = cnt.filter(col("_n") > hotCap)
        cur = if (hot.isEmpty) null
          else splitLevel(hot.select("sig", "chunk", "key", "ov"), w, k, lvl)
        lvl += 1
      }
    }
    // Ladder exhausted (width floor or cap-fit): remaining buckets hold
    // ≤ max(hotCap, 2^floorWidth) distinct rows — join them directly.
    if (cur != null) finals += cur.select("sig", "chunk", "key")
    finals.reduce(_ unionAll _)
  }

  /** The leaf self-join filtered only to ordered DISTINCT-sig pairs —
    * every (sig pair × shared leaf bucket) candidate row, BEFORE the
    * Hamming / first-chunk / distinct filters. Exposed for spec
    * instrumentation: the hot-bucket spec asserts this count drops
    * when splitting activates. */
  private[graft] def rawCandidates(sigs: DataFrame, totalBits: Int,
      chunkBits: Int, nChunks: Int, maxDist: Int, hotCap: Int): DataFrame = {
    val uniq = graft.Barrier("chunk_blocking.sigs", sigs.select("sig").distinct())
    rawCandidates0(uniq, totalBits, chunkBits, nChunks, maxDist, hotCap)
  }

  private def rawCandidates0(uniq: DataFrame, totalBits: Int, chunkBits: Int,
      nChunks: Int, maxDist: Int, hotCap: Int): DataFrame = {
    val leaves = keyedLeaves(uniq, totalBits, chunkBits, nChunks, maxDist, hotCap)
    val a = leaves.select(col("key"), col("chunk"), col("sig").as("sig_a"))
    val b = leaves.select(col("key"), col("sig").as("sig_b"))
    // PIN the shuffle join: after the localCheckpoint the leaf table's
    // byte stats look tiny, so the planner would broadcast one side of
    // the self-join — collapsing the in-bucket enumeration (the
    // expensive part) onto the probe side's few input partitions and
    // taking AQE's skew-split off the table (it only divides shuffle
    // joins). Measured at sf5 in round 5: the broadcast form ran the
    // candidate walk on ~1 core (295 s); the pinned shuffle join keeps
    // it 32-way and skew-splittable. At 100 TB the leaf table is
    // entropy-sized — broadcast is never the right strategy here.
    a.hint("shuffle_hash").join(b, Seq("key"))
      .filter(col("sig_a") < col("sig_b"))
  }

  /** All doc pairs within Hamming ≤ maxDist, each emitted exactly once:
    * (id_a, id_b, sig_a, sig_b, hamming) with id_a < id_b. Callers
    * rename/cast to their output contracts; results are identical for
    * every hotCap ≥ 1. */
  def pairs(sigs: DataFrame, totalBits: Int, chunkBits: Int, nChunks: Int,
      maxDist: Int, hotCap: Int = HotBucketCap): DataFrame = {
    require(nChunks * chunkBits >= totalBits && maxDist < nChunks,
      s"chunk blocking unsound: $nChunks x $chunkBits must cover $totalBits " +
        s"bits and maxDist=$maxDist < chunks")
    // The (doc_id, sig) frame is TINY (16 B/row) but computing it runs
    // the expensive signature kernels (tokenize+SimHash / resize+pHash)
    // over the whole corpus — and it is referenced by the distinct, the
    // cross-sig expansion (twice) and the identical-sig self-join.
    // a barrier cuts the lineage so the kernels run ONCE; the level-0
    // hot-key collect piggybacks the materialization.
    val sigsC = graft.Barrier("chunk_blocking.doc_sigs", sigs)
    val uniq = graft.Barrier("chunk_blocking.sigs", sigsC.select("sig").distinct())
    val sigPairs = rawCandidates0(uniq, totalBits, chunkBits, nChunks,
        maxDist, hotCap)
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      // Hamming first (short-circuits the enumeration waste), then the
      // first-chunk predicate kills cross-chunk duplicates for free;
      // the DISTINCT collapses the residual sub-level co-occurrences.
      .filter(col("hamming") <= maxDist &&
        col("chunk") === firstMatchingCell(col("sig_a"), col("sig_b"),
          nChunks, chunkBits))
      .select("sig_a", "sig_b", "hamming")
      .distinct()
    // Cross-sig expansion: every (doc of sig_a) × (doc of sig_b) pair
    // qualifies at the pair's Hamming distance — output-bound by
    // definition. Pin shuffle-hash building the NARROW ids side (16 B
    // rows, uniformly keyed) so the corpus table's misread checkpoint
    // stats can never flip it to a broadcast; AQE may still demote the
    // join when a side is genuinely small.
    val cross = sigPairs
      .join(sigsC.select(col("sig").as("sig_a"), col("doc_id").as("_ia"))
        .hint("shuffle_hash"), Seq("sig_a"))
      .join(sigsC.select(col("sig").as("sig_b"), col("doc_id").as("_ib"))
        .hint("shuffle_hash"), Seq("sig_b"))
      .select(least(col("_ia"), col("_ib")).as("id_a"),
        greatest(col("_ia"), col("_ib")).as("id_b"),
        when(col("_ia") < col("_ib"), col("sig_a")).otherwise(col("sig_b"))
          .as("sig_a"),
        when(col("_ia") < col("_ib"), col("sig_b")).otherwise(col("sig_a"))
          .as("sig_b"),
        col("hamming"))
    // Identical-sig doc pairs (Hamming 0): direct self-equi-join on
    // sig. Singleton signatures probe 1×1 buckets and emit nothing —
    // linear work; multi-doc signatures emit exactly their genuine
    // duplicate pairs, which is the answer itself.
    val within = sigsC.select(col("sig"), col("doc_id").as("id_a"))
      .hint("shuffle_hash")
      .join(sigsC.select(col("sig"), col("doc_id").as("id_b")), Seq("sig"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sig").as("sig_a"),
        col("sig").as("sig_b"), lit(0).as("hamming"))
    within.unionAll(cross)
  }
}
