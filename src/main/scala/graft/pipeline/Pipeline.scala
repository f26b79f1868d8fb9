package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.text.TextFunctions._

/** Training-data pipeline operators beyond dedup/similarity —
  * SURVEY.md §2 items 37–39: deterministic stratified sampling,
  * context-window sequence packing, and duplicate-cluster resolution
  * via distributed connected components.
  */
object Pipeline {

  /** §2.37 deterministic hash-based stratified sampling: keep a row iff
    * hash(stratum:key) mod 100 < rate(stratum). Reproducible across
    * runs/engines (no RNG), embarrassingly parallel, and the sampling
    * decision colocates with the row — no shuffle at all.
    * Rates: downsample the dominant language, keep the tail. */
  val strataRates: Map[String, Int] = Map(
    "en" -> 20, "de" -> 80, "es" -> 80, "fr" -> 80, "zh" -> 80)

  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val rate = strataRates.foldLeft(lit(50)) { case (acc, (lang, r)) =>
      when(col("lang") === lang, lit(r)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .withColumn("_bucket", pmod(hash64(concat_ws(":", col("lang"), col("doc_id"))), lit(100)))
      .filter(col("_bucket") < rate)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  val sampleStratifiedSql: String = {
    val rateCase = strataRates.toSeq.sortBy(_._1).map { case (l, r) =>
      s"WHEN lang = '$l' THEN $r"
    }.mkString(" ")
    s"""SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE ${hash64Sql("concat_ws(':', lang, doc_id)")} % 100 <
       |  (CASE $rateCase ELSE 50 END)
       |ORDER BY doc_id""".stripMargin
  }

  /** §2.96 quality-weighted sampling: accept each document with
    * probability equal to its quality score — the
    * importance-sampling step quality-filtered corpora use (keep
    * high-quality text at full rate, down-sample the low-quality tail
    * instead of hard-thresholding it). Deterministic and
    * engine-reproducible: the acceptance draw is a hash bucket in
    * [0, 1e6) compared against score×1e6, no RNG; the score is the
    * 6 dp-rounded quality_score both engines already agree on
    * (text_quality is oracle-green), so the comparison can't straddle.
    * One scan, no shuffle, no collect. */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextQueries.textQuality(spark, dir)
      .select(col("doc_id"), col("quality_score"))
      .withColumn("_bucket",
        pmod(hash64(concat_ws(":", lit("sw"), col("doc_id"))), lit(1000000)))
      .filter(col("_bucket").cast("double") < col("quality_score") * 1000000.0)
      .select("doc_id", "quality_score")
      .orderBy("doc_id")

  val sampleWeightedSql: String =
    s"""SELECT doc_id, quality_score
       |FROM (${graft.text.TextQueries.textQualitySql}) q
       |WHERE ${hash64Sql("concat_ws(':', 'sw', doc_id)")} % 1000000
       |  < quality_score * 1000000.0
       |ORDER BY doc_id""".stripMargin

  /** Sample size for [[sampleAes]]. */
  val AesK = 100

  /** §2.229 `sample_aes`: EXACT-k weighted sampling without
    * replacement via Efraimidis–Spirakis A-ES keys — the missing
    * combination in the sampling family: §2.96 is weighted but
    * Bernoulli (binomial size), §2.91 is exact-k but uniform. Each
    * doc draws key = ln(u)/w (u a deterministic hash uniform, w its
    * quality weight); the k largest keys ARE a weighted sample
    * without replacement (Efraimidis & Spirakis 2006, the u^(1/w)
    * trick in log space — same order, no pow()).
    *
    * Scale shape: one scan, zero shuffle — the global top-k plans as
    * TakeOrderedAndProject (per-partition heaps, k-row merge), the
    * §2.103 pattern; no window ever sees the corpus.
    *
    * Determinism: u = (h%10⁶ + 0.5)/10⁶ is integer-derived (never 0,
    * so ln is finite) and identical cross-engine; ln's last-ulp
    * wobble is absorbed by rounding the key at 9 dp before ranking
    * (|ln u|/w ≤ ~10⁴, so 9 dp is far inside double precision), ties
    * break on doc_id. */
  def sampleAes(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextQueries.textQuality(spark, dir)
      .select(col("doc_id"), col("quality_score"))
      .withColumn("w", greatest(col("quality_score"), lit(0.001)))
      .withColumn("u",
        (pmod(hash64(concat_ws(":", lit("aes"), col("doc_id"))),
          lit(1000000)).cast("double") + 0.5) / 1000000.0)
      .withColumn("aes_key", round(log(col("u")) / col("w"), 9))
      .orderBy(col("aes_key").desc, col("doc_id"))
      .limit(AesK)
      .select("doc_id", "quality_score", "aes_key")

  val sampleAesSql: String =
    s"""SELECT doc_id, quality_score,
       |  round(ln((${hash64Sql("concat_ws(':', 'aes', doc_id)")} % 1000000
       |      + 0.5) / 1000000.0)
       |    / greatest(quality_score, 0.001), 9) AS aes_key
       |FROM (${graft.text.TextQueries.textQualitySql}) q
       |ORDER BY aes_key DESC, doc_id LIMIT $AesK""".stripMargin

  /** Fixed sample size per stratum for [[sampleFixed]]. */
  val FixedPerStratum = 20

  /** §2.91 exact-size stratified sampling: exactly k docs per language
    * (Bernoulli sampling gives binomially-varying sizes; eval sets and
    * human-review batches need exact counts). Rank = deterministic
    * hash of (lang, doc_id) — reproducible across runs and engines,
    * uniform within stratum, no RNG. One rank window per stratum; at
    * 100 TB k ≪ stratum size, so WindowGroupLimit prunes each
    * partition to its top-k before the final per-stratum merge. */
  def sampleFixed(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("_rk_hash"), col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("_rk_hash", hash64(concat_ws(":", col("lang"), col("doc_id"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= FixedPerStratum)
      .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"))
      .orderBy("lang", "rk")
  }

  val sampleFixedSql: String =
    s"""SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk FROM (
       |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
       |    ORDER BY ${hash64Sql("concat_ws(':', lang, doc_id)")}, doc_id) AS rk
       |  FROM documents) t
       |WHERE rk <= $FixedPerStratum ORDER BY lang, rk""".stripMargin

  /** Data-mixing parameters: total token budget to fill, and the cap
    * on any one language's mixture share (CapNum/CapDen = 0.3 —
    * prevents the head language from dominating the mixture; the
    * practical one-round version of waterfilling). */
  val MixBudget = 100000L
  val MixCapNum = 3L
  val MixCapDen = 10L

  /** §2.75 corpus mixture weighting: per-language token counts →
    * natural share → capped-then-renormalized mixture weight → token
    * allocation, sampling rate, and epoch count (passes over a
    * language's data the allocation implies). One capping round: the
    * cap binds against the PRE-normalization share, so after
    * renormalization a capped language's weight can still sit above
    * the nominal cap (full waterfilling would iterate); the guarantee
    * is that every capped language's weight drops below its natural
    * share and the ordering is preserved.
    *
    * The capped share is kept as an exact integer numerator
    * (min(tokens·CapDen, total·CapNum) over the common denominator
    * CapDen·total), so the allocation is BIGINT arithmetic — no float
    * `floor` boundary for the oracle to disagree on. (At real 100-TB
    * token counts this product needs DECIMAL(38) headroom; the shape
    * is unchanged.) Scale: one partial-agg'd groupBy over the corpus,
    * then L-row arithmetic with broadcast 1-row totals — the corpus
    * is scanned exactly once. */
  def corpusMix(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .withColumn("n_tokens",
        size(graft.functions.native.token_poly_hashes(col("text"))).cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("lang_tokens"))
    val total = per.agg(sum("lang_tokens").as("total_tokens"))
    val capped = least(col("lang_tokens") * MixCapDen, col("total_tokens") * MixCapNum)
    val capSum = per.crossJoin(broadcast(total))
      .agg(sum(capped).as("cap_sum"))
    per.crossJoin(broadcast(total)).crossJoin(broadcast(capSum))
      .withColumn("cap_num", capped)
      // integer division: Spark's `/` on longs yields double, `div` stays BIGINT
      .withColumn("alloc_tokens", expr(s"cap_num * $MixBudget div cap_sum"))
      .withColumn("epochs_raw",
        col("alloc_tokens").cast("double") / col("lang_tokens"))
      .select(col("lang"), col("n_docs"), col("lang_tokens"),
        round(col("lang_tokens").cast("double") / col("total_tokens"), 6)
          .as("natural_share"),
        round(col("cap_num").cast("double") / col("cap_sum"), 6).as("mix_weight"),
        col("alloc_tokens"),
        round(least(lit(1.0), col("epochs_raw")), 6).as("sampling_rate"),
        round(col("epochs_raw"), 6).as("epochs"))
      .orderBy("lang")
  }

  val corpusMixSql: String =
    s"""WITH per AS (SELECT lang, count(*) AS n_docs,
       |    CAST(sum(len(${tokenHashesSql("text")})) AS BIGINT) AS lang_tokens
       |  FROM documents GROUP BY lang),
       |tot AS (SELECT CAST(sum(lang_tokens) AS BIGINT) AS total_tokens FROM per),
       |cap AS (SELECT lang, n_docs, lang_tokens, total_tokens,
       |    least(lang_tokens * $MixCapDen, total_tokens * $MixCapNum) AS cap_num
       |  FROM per CROSS JOIN tot),
       |cs AS (SELECT CAST(sum(cap_num) AS BIGINT) AS cap_sum FROM cap)
       |SELECT lang, n_docs, lang_tokens,
       |  round(lang_tokens / CAST(total_tokens AS DOUBLE), 6) AS natural_share,
       |  round(cap_num / CAST(cap_sum AS DOUBLE), 6) AS mix_weight,
       |  cap_num * $MixBudget // cap_sum AS alloc_tokens,
       |  round(least(1.0, (cap_num * $MixBudget // cap_sum) / CAST(lang_tokens AS DOUBLE)), 6) AS sampling_rate,
       |  round((cap_num * $MixBudget // cap_sum) / CAST(lang_tokens AS DOUBLE), 6) AS epochs
       |FROM cap CROSS JOIN cs
       |ORDER BY lang""".stripMargin

  /** §2.332 `corpus_mix_topic`: the cluster-balanced mixture —
    * [[corpusMix]]'s capped-allocation arithmetic re-keyed from
    * language to TOPIC, where topic = the §2.73 IVF coarse-quantizer
    * cell of the document's embedding (deterministic k-means: first-K
    * init, fixed Lloyd rounds, 6-dp-rounded centroids — the exact
    * chain the oracle replays). This is the topic-balance knob real
    * pretraining mixtures tune (web crawl ≫ reference text in volume;
    * capping a topic's share is how the tail topics keep signal) —
    * language gives it no purchase because language is metadata while
    * topic must be DERIVED from content.
    *
    * Docs join their embedding row on doc_id = vec_id (the corpus
    * convention; docs without an embedding — the scale corpora embed a
    * subset — simply aren't mixture candidates, matching a pipeline
    * that mixes over the embedded pool). Allocation stays exact
    * BIGINT: capped numerator over the common denominator, integer
    * `div` for tokens (the [[corpusMix]] argument verbatim).
    *
    * Scale shape: centroid training is the §2.73 broadcast-Lloyd
    * chain (K·dim stats driver-side per round); assignment is one
    * broadcast-centroid scan; the doc↔vec join is one hash join on
    * the id; everything after is K-row arithmetic with 1-row
    * broadcast totals. */
  /** Topic-mixture cap = exactly 1/K: with K clusters summing to 1,
    * some share is >= 1/K and some is <= 1/K unless the distribution
    * is perfectly uniform — so unlike reusing the 0.3 language cap
    * (which no 8-cluster share ever reaches), this cap provably BINDS
    * on the head topics at every SF, keeping the capping arithmetic
    * live in the oracle (the check-constants-against-the-distribution
    * rule). */
  val TopicCapNum = 1L
  val TopicCapDen: Long = graft.ann.Ivf.K.toLong

  def corpusMixTopic(spark: SparkSession, dir: String): DataFrame = {
    import graft.ann.Ivf
    val emb = Tables.embeddings(spark, dir)
    // one widening pass shared by Lloyd jobs + assignment (r13)
    val v = graft.Barrier("topic_mix.vecs", Ivf.vecsD(emb))
    val cent = Ivf.trainCentroidsV(v)
    val assigned = Ivf.assignNearest(v, cent)
      .select(col("vec_id").as("doc_id"), col("cid"))
    // per is K-row bounded but its derivation is a corpus-sized
    // tokenize + join + agg, and it feeds total, capSum AND the final
    // projection — one materialization instead of three (r13)
    val per = graft.Barrier("topic_mix.per_topic", Tables.documents(spark, dir)
      .withColumn("n_tokens",
        size(graft.functions.native.token_poly_hashes(col("text"))).cast("long"))
      .join(assigned, "doc_id")
      .groupBy("cid")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("topic_tokens")))
    val total = per.agg(sum("topic_tokens").as("total_tokens"))
    val capped = least(col("topic_tokens") * TopicCapDen,
      col("total_tokens") * TopicCapNum)
    val capSum = per.crossJoin(broadcast(total))
      .agg(sum(capped).as("cap_sum"))
    per.crossJoin(broadcast(total)).crossJoin(broadcast(capSum))
      .withColumn("cap_num", capped)
      .withColumn("alloc_tokens", expr(s"cap_num * $MixBudget div cap_sum"))
      .withColumn("epochs_raw",
        col("alloc_tokens").cast("double") / col("topic_tokens"))
      .select(col("cid").as("topic_id"), col("n_docs"), col("topic_tokens"),
        round(col("topic_tokens").cast("double") / col("total_tokens"), 6)
          .as("natural_share"),
        round(col("cap_num").cast("double") / col("cap_sum"), 6).as("mix_weight"),
        col("alloc_tokens"),
        round(least(lit(1.0), col("epochs_raw")), 6).as("sampling_rate"),
        round(col("epochs_raw"), 6).as("epochs"))
      .orderBy("topic_id")
  }

  val corpusMixTopicSql: String = {
    val (lloyd, _) = graft.ann.Ivf.lloydPrefixSql
    s"""WITH $lloyd,
       |per AS (SELECT a.cid, count(*) AS n_docs,
       |    CAST(sum(len(${tokenHashesSql("d.text")})) AS BIGINT) AS topic_tokens
       |  FROM assigned a JOIN documents d ON d.doc_id = a.vec_id
       |  GROUP BY a.cid),
       |tot AS (SELECT CAST(sum(topic_tokens) AS BIGINT) AS total_tokens FROM per),
       |cap AS (SELECT cid, n_docs, topic_tokens, total_tokens,
       |    least(topic_tokens * $TopicCapDen, total_tokens * $TopicCapNum) AS cap_num
       |  FROM per CROSS JOIN tot),
       |cs AS (SELECT CAST(sum(cap_num) AS BIGINT) AS cap_sum FROM cap)
       |SELECT cid AS topic_id, n_docs, topic_tokens,
       |  round(topic_tokens / CAST(total_tokens AS DOUBLE), 6) AS natural_share,
       |  round(cap_num / CAST(cap_sum AS DOUBLE), 6) AS mix_weight,
       |  cap_num * $MixBudget // cap_sum AS alloc_tokens,
       |  round(least(1.0, (cap_num * $MixBudget // cap_sum)
       |    / CAST(topic_tokens AS DOUBLE)), 6) AS sampling_rate,
       |  round((cap_num * $MixBudget // cap_sum)
       |    / CAST(topic_tokens AS DOUBLE), 6) AS epochs
       |FROM cap CROSS JOIN cs
       |ORDER BY topic_id""".stripMargin
  }

  /** §2.38 sequence packing for a context window: assign docs (in
    * deterministic stream order per language) to bins by cumulative
    * token count div capacity — the shuffle-light approximation of
    * first-fit packing (one window shuffle on the stream key; at 100 TB
    * the stream key is (worker, file-split) so packing stays local). */
  val PackCapacity = 2048

  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("n_tokens",
        size(graft.functions.native.token_poly_hashes(col("text"))).cast("long"))
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("bin", (col("cum_before") / PackCapacity).cast("long"))
      .select("lang", "doc_id", "n_tokens", "bin")
      .orderBy("lang", "doc_id")
  }

  val packSequencesSql: String =
    s"""SELECT lang, doc_id, n_tokens,
       |  CAST(floor(cum_before / $PackCapacity) AS BIGINT) AS bin
       |FROM (
       |  SELECT lang, doc_id, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE) AS cum_before
       |  FROM (SELECT lang, doc_id,
       |          CAST(len(${tokenHashesSql("text")}) AS BIGINT) AS n_tokens
       |        FROM documents) t0) t1
       |ORDER BY lang, doc_id""".stripMargin

  /** §2.112 context-window chunking: split each document into
    * fixed-width token windows with overlap (window 64, stride 48 →
    * 16-token overlap), the preprocessing step that turns documents
    * into model-context-sized training sequences while preserving
    * cross-boundary context. Emits (doc_id, chunk_idx, chunk_start,
    * chunk_tokens, chunk_hash) — the hash is the portable md5-based
    * fingerprint so downstream chunk-level exact dedup composes
    * directly. One scan, zero shuffle: the explode is per-row fan-out
    * (≤ n/stride + 1 chunks per doc) and every chunk column is
    * codegen'd arithmetic over the token array — at 100 TB this is a
    * map-only stage that pipelines into the corpus writer.
    *
    * Boundary semantics: a doc with n ≤ window tokens is exactly one
    * chunk (possibly short); otherwise chunk i starts at i·stride and
    * the last chunk starts at stride·⌈(n−window)/stride⌉, covering the
    * tail (possibly shorter than window, never empty). */
  val ChunkWindow = 64
  val ChunkStride = 48

  def docChunk(spark: SparkSession, dir: String): DataFrame = {
    val lastIdx = greatest(
      ceil((col("n_toks") - lit(ChunkWindow)).cast("double") / ChunkStride)
        .cast("long"), lit(0L))
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("chunk_idx", explode(sequence(lit(0L), lastIdx)))
      .withColumn("chunk", slice(col("toks"),
        (col("chunk_idx") * ChunkStride + 1).cast("int"), lit(ChunkWindow)))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * ChunkStride).as("chunk_start"),
        size(col("chunk")).cast("long").as("chunk_tokens"),
        hash64(concat_ws(" ", col("chunk"))).as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  val docChunkSql: String = {
    val sliceE = s"list_slice(toks, chunk_idx * $ChunkStride + 1, " +
      s"chunk_idx * $ChunkStride + $ChunkWindow)"
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
       |e AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_toks FROM t),
       |c AS (SELECT doc_id, toks,
       |    unnest(generate_series(0, greatest(
       |      CAST(ceil((n_toks - $ChunkWindow) / ${ChunkStride}.0) AS BIGINT), 0))) AS chunk_idx
       |  FROM e)
       |SELECT doc_id, chunk_idx, chunk_idx * $ChunkStride AS chunk_start,
       |  CAST(len($sliceE) AS BIGINT) AS chunk_tokens,
       |  ${hash64Sql(s"array_to_string($sliceE, ' ')")} AS chunk_hash
       |FROM c
       |ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** §2.60 the corpus-construction flagship: one composed pass that a
    * training-data pipeline actually runs — language-consistency
    * filter × quality threshold × exact-dedup-canonical × deterministic
    * sampling. Every stage is a Column predicate over one scan except
    * the dedup window (one hash shuffle). */
  def corpusFilter(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.text.TextQueries
    val enriched = TextQueries.langidFrame(
      TextQueries.qualityFrame(Tables.documents(spark, dir)))
      .withColumn("_chash", hash64(normalize(col("text"))))
      .withColumn("_canon", min("doc_id").over(Window.partitionBy(col("_chash"))))
      .withColumn("_bucket",
        pmod(hash64(concat_ws(":", col("lang"), col("doc_id"))), lit(100)))
    enriched
      .filter(col("pred_lang") === col("lang"))
      .filter(col("quality_score") >= 0.7)
      .filter(col("doc_id") === col("_canon"))
      .filter(col("_bucket") < 80)
      .select(col("doc_id"), col("lang"),
        col("n_tokens").cast("long").as("n_tokens"), col("quality_score"))
      .orderBy("doc_id")
  }

  val corpusFilterSql: String = {
    val toks = tokensSql("text")
    s"""WITH base AS (SELECT doc_id, lang, text, $toks AS _toks,
       |    CAST(len($toks) AS DOUBLE) AS n_tokens FROM documents),
       |q AS (SELECT doc_id, lang, text, n_tokens,
       |    round(0.4 * (length(regexp_replace(text, '[^a-z]', '', 'g')) / length(text))
       |      + 0.4 * (1.0 - abs(len(list_filter(_toks, t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'))) / n_tokens - 0.3))
       |      + 0.2 * least(1.0, n_tokens / 100.0), 6) AS quality_score
       |  FROM base),
       |lt AS (SELECT doc_id, lang, text, ${tokensSql("lower(text)")} AS _ltoks FROM documents),
       |scores AS (SELECT doc_id,
       |    CAST(len(list_filter(_ltoks, t -> t IN ('der', 'die', 'und', 'das', 'nicht'))) AS BIGINT) AS s_de,
       |    CAST(len(list_filter(_ltoks, t -> t IN ('the', 'a', 'is', 'of', 'and'))) AS BIGINT) AS s_en,
       |    CAST(len(list_filter(_ltoks, t -> t IN ('el', 'la', 'de', 'y', 'que'))) AS BIGINT) AS s_es,
       |    CAST(len(list_filter(_ltoks, t -> t IN ('le', 'la', 'et', 'les', 'des'))) AS BIGINT) AS s_fr,
       |    CAST(length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS BIGINT) AS s_zh
       |  FROM lt),
       |lng AS (SELECT doc_id,
       |    CASE WHEN s_zh > 0 THEN 'zh'
       |         WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       |         WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
       |         WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS pred_lang
       |  FROM scores),
       |dup AS (SELECT doc_id,
       |    min(doc_id) OVER (PARTITION BY ${hash64Sql(normalizeSql("text"))}) AS canon
       |  FROM documents)
       |SELECT q.doc_id, q.lang, CAST(q.n_tokens AS BIGINT) AS n_tokens, q.quality_score
       |FROM q JOIN lng ON q.doc_id = lng.doc_id JOIN dup ON q.doc_id = dup.doc_id
       |WHERE lng.pred_lang = q.lang AND q.quality_score >= 0.7
       |  AND q.doc_id = dup.canon
       |  AND ${hash64Sql("concat_ws(':', q.lang, q.doc_id)")} % 100 < 80
       |ORDER BY q.doc_id""".stripMargin
  }

  /** §2.61 cross-modal dedup evidence: MinHash text candidates joined
    * with the corresponding embedding cosine (doc_id ≡ vec_id in the
    * corpus) — text-similar pairs scored on a second modality before a
    * drop decision. */
  def dedupCrossmodal(spark: SparkSession, dir: String): DataFrame = {
    import graft.ann.Ann
    val pairs = graft.dedup.Dedup.minhashPairs(Tables.documents(spark, dir))
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), Ann.normCol(col("embedding")).as("nrm"))
    val va = v.select(col("vec_id").as("id_a"), col("embedding").as("ea"), col("nrm").as("na"))
    val vb = v.select(col("vec_id").as("id_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    pairs.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a"), col("id_b"), col("est_jaccard"),
        round(Ann.dotCol(col("ea"), col("eb")) / (col("na") * col("nb")), 6).as("emb_cosine"))
      .orderBy("id_a", "id_b")
  }

  val dedupCrossmodalSql: String = {
    import graft.ann.Ann
    s"""WITH pairs AS (SELECT * FROM (${graft.dedup.Dedup.minhashPairsSql()}) p),
       |v AS (SELECT vec_id, embedding, ${Ann.normSql("embedding")} AS nrm FROM embeddings)
       |SELECT pairs.id_a, pairs.id_b, pairs.est_jaccard,
       |  round(${Ann.dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS emb_cosine
       |FROM pairs JOIN v a ON pairs.id_a = a.vec_id JOIN v b ON pairs.id_b = b.vec_id
       |ORDER BY pairs.id_a, pairs.id_b""".stripMargin
  }

  /** In-process cluster-label cache, keyed by data dir — the same
    * share-the-stats pattern as EtlQueries.statsCache: a production
    * pipeline computes labels ONCE per crawl and persists them
    * (§2.97's precomputed-inputs overload is the API form); within one
    * session, every consumer (dedup_clusters itself, dedup_keep_best)
    * reuses the persisted frame instead of re-running MinHash + CC.
    * Keyed by (session, dir) and bounded — the entry owns its barriers,
    * so eviction releases them (see [[graft.MemoCache]]); Bench clears
    * all memo caches between reps so the benchmark times label
    * computation, not cache hits. */
  private val labelsCache = new graft.MemoCache[DataFrame](4)(_ => ())
  def dedupClustersCached(spark: SparkSession, dir: String): DataFrame =
    persistedLabels(spark).getOrElse(
      // EAGER barrier, not persist(): round-10 profiling showed
      // every REFERENCE to the lazily-persisted frame re-executing its
      // plan (~2.7 s/ref at sf1, ~10 s at sf5 — host_quality paid 104 s
      // through 2 self-join references plus consumers; warm labels.count
      // alone re-paid 2.7 s). The checkpoint materializes the label
      // table ONCE at build and truncates lineage, so a consumer scan
      // physically cannot recompute the MinHash+CC chain — the honest
      // in-process stand-in for the §2.320 persisted table (which stays
      // the cross-session/cluster-grade path; localCheckpoint blocks
      // are executor-local and die with the session).
      labelsCache.getOrElseUpdate(spark, dir)(
        graft.Barrier("clusters.labels", dedupClusters(spark, dir), eager = true)))

  /** The §2.108 persisted-bucketed contract applied to cluster labels:
    * a crawl-scale pipeline runs MinHash + CC ONCE per crawl and
    * persists the label table; every downstream gate (make_splits,
    * cluster_size_dist, quality_dup_bias, dedup_keep_best) then reads
    * a doc_id-bucketed parquet table instead of re-deriving the whole
    * chain per run — at sf5 that chain was ~110 s of the sweep
    * re-paid four times. Opt-in via the `spark.graft.labels.table`
    * conf (set after [[writeLabels]]): the driver gate never sets it,
    * so oracle runs still verify the full computation; a parity spec
    * pins persisted == recomputed. */
  def persistedLabels(spark: SparkSession): Option[DataFrame] =
    spark.conf.getOption("spark.graft.labels.table")
      .filter(spark.catalog.tableExists)
      .map(spark.table)

  /** Compute the label table once and persist it bucketed by doc_id
    * (8 buckets — the band-index convention), so label⋈doc joins can
    * run exchange-free on the label side as the table accretes. */
  def writeLabels(spark: SparkSession, dir: String,
      table: String = "graft_labels", numBuckets: Int = 8): Unit =
    graft.etl.Loader.writeBucketed(
      dedupClusters(spark, dir), table, Seq("doc_id"), numBuckets)

  /** §2.39 duplicate-cluster resolution: connected components over the
    * MinHash near-dup pair graph by iterative min-label propagation —
    * each iteration is one join + one partial-agg'd shuffle, and the
    * loop runs O(component diameter) rounds (near-dup clusters are
    * near-cliques, so 2–3 in practice).
    * cluster_id = min doc_id in the component. */
  def dedupClusters(spark: SparkSession, dir: String,
      maxIter: Int = 10): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val pairs = graft.dedup.Dedup.minhashPairs(Tables.documents(spark, dir))
      .select("id_a", "id_b")
    // undirected edge list, both directions
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .cache()
    var labels = docs.select(col("doc_id"), col("doc_id").as("label"))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // carry the previous label through the union so convergence falls
      // out of the same aggregation — ONE action per iteration
      val viaEdges = edges.join(labels, col("dst") === col("doc_id"))
        .select(col("src").as("doc_id"), col("label"),
          lit(null).cast("long").as("old"))
      val prev = labels.select(col("doc_id"), col("label"),
        col("label").as("old"))
      // a barrier, NOT cache: each iteration references the
      // previous frame TWICE (prev ∪ viaEdges), so with cache the
      // LOGICAL plan doubles per round — execution stays fine (the
      // cache manager substitutes InMemoryRelation) but the per-action
      // plan-string rendering walks the tree form, 2^rounds copies of
      // the whole MinHash subtree, and that string builder is what
      // OOM'd the r11 sf20 sweep at 8 GiB. The checkpoint truncates
      // lineage so every round's plan is O(1); it materializes the
      // same rows the convergence count forced anyway.
      val next = graft.Barrier("clusters.round", prev.unionByName(viaEdges)
        .groupBy("doc_id")
        .agg(min("label").as("label"), max("old").as("old")), eager = true)
      val changed = next.filter(col("label") < col("old")).limit(1).count()
      graft.Barrier.release(labels) // the previous round's blocks
      labels = next.select("doc_id", "label")
      converged = changed == 0
      iter += 1
    }
    edges.unpersist()
    // rounds-to-converge surfaced for the scale audit (VERDICT r08 #8):
    // propagation cost grows with component diameter, so InvariantCheck
    // records the count at every SF and asserts the diameter bound
    lastPropagationRounds = if (converged) iter else -1
    labels.select(col("doc_id"), col("label").as("cluster_id"),
        (col("doc_id") === col("label")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** Rounds the last [[dedupClusters]] propagation loop took to reach
    * its fixed point (−1 = hit the iteration cap unconverged). Debug
    * observability only — never feeds results. */
  @volatile var lastPropagationRounds: Int = -1

  /** Rounds the last [[dedupClustersStar]] run took (−1 = not run). */
  @volatile var lastStarRounds: Int = -1

  /** §2.84 the end-to-end corpus-construction capstone: everything a
    * training-data job runs, composed — corpus_filter survivors
    * (lang-consistency × quality × dedup-canonical × base sampling),
    * minus the eval split, minus contaminated docs, then per-language
    * mixture down-sampling to the token budget. The mixture rate is
    * applied as an exact integer cross-multiply
    * (bucket·lang_tokens < alloc·10^6) — no float threshold for the
    * oracle to disagree on. One scan feeds the filter, the (tiny)
    * contamination and mix tables broadcast onto it. */
  def corpusManifest(spark: SparkSession, dir: String): DataFrame =
    corpusManifest(
      Tables.documents(spark, dir),
      corpusFilter(spark, dir),
      Contamination.decontaminate(Tables.documents(spark, dir))
        .select(col("doc_id"), col("contamination")),
      corpusMix(spark, dir)
        .select(col("lang"), col("lang_tokens"), col("alloc_tokens")))

  /** Precomputed-inputs overload (VERDICT r3 #4): a real pipeline
    * persists the filter survivors, contamination scores, and mixture
    * allocation as tables of their own (each is independently useful)
    * and assembles the manifest from them — re-deriving all three per
    * manifest run re-scans the corpus three times. `survivors` =
    * corpus_filter output, `contam` = (doc_id, contamination), `mix` =
    * (lang, lang_tokens, alloc_tokens). */
  def corpusManifest(docs: DataFrame, survivors: DataFrame,
      contam: DataFrame, mix: DataFrame): DataFrame = {
    survivors
      .join(docs.select("doc_id", "source"), "doc_id")
      .filter(!col("source").isin(Contamination.TestSources: _*))
      .join(contam, Seq("doc_id"), "left") // gram-less docs: no row → clean
      .withColumn("contamination", coalesce(col("contamination"), lit(0.0)))
      .filter(col("contamination") < Contamination.FlagThreshold)
      .join(broadcast(mix), "lang")
      .withColumn("_bucket", pmod(
        hash64(concat_ws(":", lit("manifest"), col("lang"), col("doc_id"))),
        lit(1000000)))
      .filter(col("_bucket") * col("lang_tokens") <
        least(col("alloc_tokens"), col("lang_tokens")) * lit(1000000L))
      .select("doc_id", "lang", "source", "n_tokens", "quality_score", "contamination")
      .orderBy("doc_id")
  }

  def corpusManifestSql: String = {
    val srcList = Contamination.TestSources.map(s => s"'$s'").mkString(", ")
    val bucket = hash64Sql("concat_ws(':', 'manifest', cf.lang, cf.doc_id)")
    s"""WITH cf AS ($corpusFilterSql),
       |docsrc AS (SELECT doc_id, source FROM documents),
       |dec AS (${graft.pipeline.Contamination.decontaminateSql}),
       |mix AS ($corpusMixSql)
       |SELECT cf.doc_id, cf.lang, d.source, cf.n_tokens, cf.quality_score,
       |  coalesce(dec.contamination, 0.0) AS contamination
       |FROM cf JOIN docsrc d ON cf.doc_id = d.doc_id
       |LEFT JOIN dec ON cf.doc_id = dec.doc_id
       |JOIN mix ON cf.lang = mix.lang
       |WHERE d.source NOT IN ($srcList)
       |  AND coalesce(dec.contamination, 0.0) < ${Contamination.FlagThreshold}
       |  AND ($bucket % 1000000) * mix.lang_tokens
       |      < least(mix.alloc_tokens, mix.lang_tokens) * 1000000
       |ORDER BY cf.doc_id""".stripMargin
  }

  /** One large-star round: every neighbor of u strictly larger than u
    * is connected to the minimum of u's closed neighborhood. Input and
    * output edges are self-loop-free; output stays oriented src>dst. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy("src").agg(min("dst").as("mn"))
      .select(col("src"), least(col("mn"), col("src")).as("m"))
    sym.join(mins, "src")
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .distinct()
  }

  /** One small-star round on large→small oriented edges: every
    * smaller-or-equal neighbor of u, and u itself, connects to the
    * minimum of u's smaller neighborhood. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges.select(
      greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst"))
    val mins = oriented.groupBy("src").agg(min("dst").as("m"))
    oriented.join(mins, "src")
      .select(col("dst").as("src"), col("m").as("dst"))
      .unionByName(mins.select(col("src"), col("m").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Connected components via the alternating big-star/small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): converges in O(log n) rounds on ANY graph shape
    * — a 100-node chain needs ~7 rounds where min-label propagation
    * needs ~100 — each round two groupBy+join passes over the
    * (monotonically shrinking) edge set. Returns (labels, rounds);
    * labels = (node, label = component-min) for every non-isolated,
    * non-root node — callers coalesce missing nodes to themselves. */
  def ccBigSmallStar(pairs: DataFrame, maxIter: Int = 25): (DataFrame, Int) = {
    // eager barrier, not cache: each round's plan nests the previous
    // round's joins/unions, so an uncut lineage grows exponentially and
    // blows up planning itself — the barrier truncates the logical plan
    // to the materialized edge set.
    var cur = graft.Barrier("cc.edges", pairs.select(
        greatest(col("id_a"), col("id_b")).as("src"),
        least(col("id_a"), col("id_b")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct(), eager = true)
    var curCnt = cur.count()
    var rounds = 0
    var converged = curCnt == 0
    while (!converged && rounds < maxIter) {
      val next = graft.Barrier("cc.edges", smallStar(largeStar(cur)), eager = true)
      val nextCnt = next.count()
      // sets are distinct: equal size + empty one-sided difference ⇒ equal
      converged = nextCnt == curCnt && next.except(cur).limit(1).count() == 0
      graft.Barrier.release(cur)
      cur = next
      curCnt = nextCnt
      rounds += 1
    }
    val labels = cur.select(col("src").as("node"), col("dst").as("label"))
    (labels, rounds)
  }

  /** §2.39 variant: duplicate-cluster resolution through
    * [[ccBigSmallStar]] — same output contract as [[dedupClusters]],
    * logarithmic rounds on deep chain components (the propagation
    * variant is cheaper on the near-clique clusters MinHash actually
    * produces; this is the safe choice when component shape is unknown). */
  def dedupClustersStar(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val pairs = graft.dedup.Dedup.minhashPairs(Tables.documents(spark, dir))
      .select("id_a", "id_b")
    val (labels, rounds) = ccBigSmallStar(pairs)
    lastStarRounds = rounds
    docs.join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"),
        (col("doc_id") === coalesce(col("label"), col("doc_id"))).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** Min-label propagation rounds the oracle unrolls. Plain
    * propagation converges once the per-component min label has
    * traveled the component's diameter; near-dup clusters are
    * near-cliques (diameter ~2–3), so 16 is a wide margin — and an
    * UNDER-provisioned unroll fails the gate visibly (labels differ
    * from Spark's star-algorithm fixpoint), never silently. */
  private val OracleCcRounds = 16

  /** The oracle's connected components. Round 13 replaced the
    * `WITH RECURSIVE` transitive closure — whose `reach` table holds
    * Σ|cluster|² rows and times out past sf0.1 (it alone kept SEVEN
    * consumers on the sf1 skip list) — with [[OracleCcRounds]] unrolled
    * min-label-propagation rounds: each round joins the previous label
    * table to the (materialized) symmetric+self-loop edge list and
    * takes the per-node min, O(rounds · (n + |edges|)) total. Each
    * round references its predecessor ONCE (the self-loop edge carries
    * the node's own label), so DuckDB's per-reference CTE inlining
    * keeps the plan a 16-deep pipeline, not a 2^16 tree. Same fixpoint
    * as Spark's big/small-star: the per-component minimum id. */
  val dedupClustersSql: String = {
    val rounds = (1 to OracleCcRounds).map { i =>
      s"""l$i AS (SELECT e.src AS node, min(l.lbl) AS lbl
         |  FROM l${i - 1} l JOIN edges2 e ON l.node = e.dst GROUP BY e.src)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (SELECT id_a, id_b FROM (${graft.dedup.Dedup.minhashPairsSql()}) p),
       |edges2 AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs
       |  UNION ALL SELECT doc_id AS src, doc_id AS dst FROM documents),
       |l0 AS (SELECT doc_id AS node, doc_id AS lbl FROM documents),
       |$rounds
       |SELECT node AS doc_id, lbl AS cluster_id,
       |  node = lbl AS is_canonical
       |FROM l$OracleCcRounds ORDER BY doc_id""".stripMargin
  }

  /** §2.97 keep-best duplicate resolution: within each near-dup
    * cluster keep the HIGHEST-QUALITY document (tie → lowest doc_id),
    * which is what production dedup actually ships — min-id canonicals
    * ([[dedupClusters]]) throw away the best copy whenever it isn't
    * the oldest. Composition: cluster labels ⋈ quality scores, then
    * one per-cluster argmax window (clusters are near-dup groups —
    * tiny — so the window sort is bounded; the shuffle key is
    * cluster_id). Ordering by the 6 dp-rounded score both engines
    * agree on keeps the argmax deterministic cross-engine. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame =
    dedupKeepBest(
      dedupClustersCached(spark, dir).select("doc_id", "cluster_id"),
      graft.text.TextQueries.textQuality(spark, dir)
        .select(col("doc_id"), col("quality_score")))

  /** Precomputed-inputs overload (VERDICT r3 #4): at 100 TB cluster
    * labels are computed ONCE per crawl and persisted; every consumer
    * (keep-best, manifest, reporting) joins the label table instead of
    * re-running MinHash+CC. `clusters` = (doc_id, cluster_id),
    * `quality` = (doc_id, quality_score); the registered query
    * delegates here with freshly-derived frames, so output is
    * byte-identical either way (spec-asserted). */
  def dedupKeepBest(clusters: DataFrame, quality: DataFrame): DataFrame = {
    val w = Window.partitionBy("cluster_id")
      .orderBy(desc("quality_score"), asc("doc_id"))
    clusters.select("doc_id", "cluster_id").join(quality, "doc_id")
      .withColumn("is_kept", row_number().over(w) === 1)
      .select("doc_id", "cluster_id", "quality_score", "is_kept")
      .orderBy("doc_id")
  }

  val dedupKeepBestSql: String =
    s"""WITH c AS (SELECT doc_id, cluster_id FROM ($dedupClustersSql) t),
       |q AS (SELECT doc_id, quality_score
       |  FROM (${graft.text.TextQueries.textQualitySql}) t)
       |SELECT c.doc_id, c.cluster_id, q.quality_score,
       |  row_number() OVER (PARTITION BY c.cluster_id
       |    ORDER BY q.quality_score DESC, c.doc_id) = 1 AS is_kept
       |FROM c JOIN q ON c.doc_id = q.doc_id
       |ORDER BY c.doc_id""".stripMargin
}
