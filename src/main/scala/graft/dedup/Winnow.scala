package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.TextFunctions._

/** §2.278 winnowing fingerprints — Schleimer, Wilkerson & Aiken,
  * SIGMOD'03 ("Winnowing: Local Algorithms for Document
  * Fingerprinting", the MOSS algorithm).
  *
  * The guarantee the rest of the dedup family lacks: from every
  * window of [[WinnowW]] consecutive k-gram hashes, at least one is
  * selected — so any shared run of ≥ w+k−1 tokens between two
  * documents is CAUGHT by construction (MinHash §2.22 is
  * probabilistic; mod-p selection à la Manber has unbounded gaps).
  * Fingerprint density is ~2/(w+1) of gram volume, an ~60% cut at
  * w=4, which is the point: the cross-doc index stores winnowed
  * fingerprints, not every gram.
  *
  * Selection = per window, the MINIMUM of hc = h·2²² + p — the
  * position in the low bits makes keys DISTINCT within a doc, so the
  * argmin is unique and both engines agree without a tie rule (the
  * paper's rightmost-min; any fixed rule preserves the guarantee).
  * h < 2³⁰ (poly-hash mod 1e9+7) and gram positions < 2²² (4M-token
  * docs) keep hc < 2⁵² — exact in BIGINT on both engines.
  *
  * Scale shape: gram hashes are the compiled arithmetic kernel
  * (§2.129's 19→2.6 s lesson — no interpreted lambdas); selection is
  * ONE per-doc window pass (doc_id exchange + per-doc sort, the
  * window_running class); the cross-doc join runs on the winnowed
  * (doc, h) frame under a df ∈ [2, [[WinnowDfCap]]] posting cap
  * (§2.153's bounded-postings argument: ≤ C(20,2) pairs per hash, no
  * hot fingerprint path), both data-proportional sides pinned
  * shuffle_hash (the §6 round-5 stats→broadcast trap class).
  */
object Winnow {

  /** Tokens per gram (winnowing's noise threshold k). */
  val WinnowK = 5

  /** Window size w: every w consecutive grams yield ≥ 1 fingerprint —
    * shared runs of ≥ w+k−1 = 8 tokens are always detected. */
  val WinnowW = 4

  /** Posting-list cap: fingerprints shared by more docs are
    * boilerplate, excluded from pair evidence (and from the quadratic
    * candidate join). */
  val WinnowDfCap = 20

  /** Minimum shared fingerprints for a reported pair. */
  val WinnowMinShared = 2

  private val PosBits = 4194304L // 2^22

  /** Winnowed fingerprints: one row per selected (doc_id, p, h). */
  private[dedup] def fingerprints(spark: SparkSession, dir: String): DataFrame =
    fingerprintsOf(Tables.documents(spark, dir))

  /** Winnowed fingerprints of an arbitrary (doc_id, text) frame — the
    * kernel [[graft.streaming.Streaming.winnowStreamIndexed]] runs
    * per micro-batch. */
  private[graft] def fingerprintsOf(docs: DataFrame): DataFrame = {
    val grams = docs.select(col("doc_id"),
        graft.functions.native.token_poly_hashes(col("text")).as("th"))
      // compiled gram combine — the transform(sequence(...)) lambda
      // version was inlined 12× by CollapseProject and interpreted
      // per gram (the round-1 boilerplate_ngrams finding; PlanGate
      // flagged it r11). ShinglePolyHashes is its bit-identical twin.
      .select(col("doc_id"),
        posexplode(graft.functions.native.shingle_hashes(col("th"), WinnowK)))
      .toDF("doc_id", "p0", "h")
      // 1-based positions, mirroring DuckDB's generate_subscripts —
      // the full-window filter below is position arithmetic and must
      // agree exactly
      .select(col("doc_id"), (col("p0") + 1L).as("p"), col("h"))
      .withColumn("hc", col("h") * lit(PosBits) + col("p"))
    val wsel = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.currentRow, WinnowW - 1)
    val wlen = Window.partitionBy("doc_id")
    grams
      .withColumn("sel_p", min_by(col("p"), col("hc")).over(wsel))
      .withColumn("n_grams", count(lit(1)).over(wlen))
      // full windows only (plus the single whole-doc window when the
      // doc has fewer than w grams); the tail frames are prefixes of
      // full windows and would re-select the same minima anyway
      .filter(col("p") <= greatest(col("n_grams") - lit(WinnowW - 1).cast("long"), lit(1L)))
      .select(col("doc_id"), col("sel_p").as("p"))
      .distinct()
      // the selected-positions frame is ~2/(w+1) of gram volume —
      // data-proportional, so small-SF stats must not broadcast it
      // (the §6 round-5 trap class); hash-join with it as build side
      .hint("shuffle_hash")
      .join(grams.select("doc_id", "p", "h"), Seq("doc_id", "p"))
  }

  private def fingerprintsSql: String = {
    val gh = shingleHashCombineSql("th", WinnowK)
    s"""grams AS (SELECT doc_id,
       |    generate_subscripts(gh, 1) AS p, unnest(gh) AS h
       |  FROM (SELECT doc_id, $gh AS gh
       |        FROM (SELECT doc_id, ${tokenHashesSql("text")} AS th
       |              FROM documents) t0) t1),
       |keyed AS (SELECT doc_id, p, h, h * $PosBits + p AS hc FROM grams),
       |selraw AS (SELECT doc_id, p AS start_p,
       |    arg_min(p, hc) OVER (PARTITION BY doc_id ORDER BY p
       |      ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS sp,
       |    count(*) OVER (PARTITION BY doc_id) AS n_grams
       |  FROM keyed),
       |sel AS (SELECT DISTINCT doc_id, sp AS p FROM selraw
       |  WHERE start_p <= greatest(n_grams - ${WinnowW - 1}, 1)),
       |fp AS (SELECT doc_id, p, h FROM sel JOIN keyed USING (doc_id, p))""".stripMargin
  }

  /** §2.278 `dedup_winnow`: cross-document near-duplicate pairs from
    * winnowed fingerprints — pairs sharing ≥ [[WinnowMinShared]]
    * distinct fingerprint hashes (df-capped), with the fingerprint-set
    * Jaccard. */
  def dedupWinnow(spark: SparkSession, dir: String): DataFrame = {
    // barrier: fp feeds the per-doc sizes, the df cap, and the capped
    // join — without it the whole winnowing pipeline (tokenize +
    // shingle + window select) re-ran 3x (68 Exchanges / 24 parquet
    // scans in the compiled plan)
    val fp = graft.Barrier("winnow.fingerprints",
      fingerprints(spark, dir).select("doc_id", "h").distinct())
    val sizes = fp.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    // the df-capped key set is vocabulary-proportional — pinned like
    // the selected-positions frame above
    val capped = fp.join(
      fp.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= WinnowDfCap)
        .select("h").hint("shuffle_hash"),
      Seq("h"))
    val pairs = capped.as("a")
      .join(capped.as("b").hint("shuffle_hash"), Seq("h"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
    pairs
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_fp", "n_a").hint("shuffle_hash"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_fp", "n_b").hint("shuffle_hash"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")), 6).as("jaccard"))
      .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))
  }

  val dedupWinnowSql: String =
    s"""WITH ${fingerprintsSql},
       |fpd AS (SELECT DISTINCT doc_id, h FROM fp),
       |sizes AS (SELECT doc_id, count(*) AS n_fp FROM fpd GROUP BY 1),
       |capped AS (SELECT doc_id, h FROM fpd
       |  WHERE h IN (SELECT h FROM fpd GROUP BY h
       |              HAVING count(*) BETWEEN 2 AND $WinnowDfCap)),
       |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    count(*) AS n_shared
       |  FROM capped a JOIN capped b
       |    ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared)
       |SELECT doc_a, doc_b, n_shared,
       |  round(CAST(n_shared AS DOUBLE) / (sa.n_fp + sb.n_fp - n_shared), 6)
       |    AS jaccard
       |FROM pairs
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b""".stripMargin
}
