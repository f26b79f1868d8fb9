package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import TextFunctions._

/** SURVEY.md §2 items 28–31: text analysis over `documents`.
  * Pure per-row Column pipelines — embarrassingly parallel, no shuffle
  * except the oracle-determinism orderBy; at 100 TB these run as a
  * single codegen'd scan stage. */
object TextQueries {

  /** §2.30 token counting: whitespace tokens + BPE-ish regex tokens. */
  def textTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(tokens(col("text"))).as("n_ws_tokens"),
      size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)")).as("n_re_tokens"),
      length(col("text")).as("n_chars_obs"))
      .orderBy("doc_id")

  val textTokensSql: String =
    s"""SELECT doc_id,
       |  len(${tokensSql("text")}) AS n_ws_tokens,
       |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_re_tokens,
       |  length(text) AS n_chars_obs
       |FROM documents ORDER BY doc_id""".stripMargin

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  private val stopList = stopwords.map(w => s"'$w'").mkString(", ")
  /** Quoted stopword list for oracle SQL reuse (QualityModel). */
  private[graft] def stopListSql: String = stopList

  /** Quality signal columns over a documents frame (shared by the
    * text_quality query and the corpus_filter composite). */
  def qualityFrame(docs: DataFrame): DataFrame =
    docs
      .withColumn("_toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("_toks")))
      .withColumn("_alpha",
        length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") /
          length(col("text")))
      .withColumn("_stop",
        graft.functions.native.tokens_in_set_count(col("_toks"), stopwords)
          .cast("double") / col("n_tokens"))
      .withColumn("_atl",
        length(regexp_replace(col("text"), "\\s", "")).cast("double") /
          col("n_tokens"))
      .withColumn("quality_score",
        round(lit(0.4) * col("_alpha")
          + lit(0.4) * (lit(1.0) - abs(col("_stop") - lit(0.3)))
          + lit(0.2) * least(lit(1.0), col("n_tokens").cast("double") / 100.0), 6))

  /** §2.29 quality scoring: alpha ratio, stopword ratio, token stats,
    * composite score — the reference's validity checks generalized into
    * trainable-corpus quality signals. */
  def textQuality(spark: SparkSession, dir: String): DataFrame =
    qualityFrame(Tables.documents(spark, dir))
      .select(
        col("doc_id"), col("n_tokens"),
        round(col("_alpha"), 6).as("alpha_ratio"),
        round(col("_stop"), 6).as("stop_ratio"),
        round(col("_atl"), 6).as("avg_token_len"),
        col("quality_score"))
      .orderBy("doc_id")

  val textQualitySql: String =
    s"""SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  round(length(regexp_replace(text, '[^a-z]', '', 'g')) / length(text), 6) AS alpha_ratio,
       |  round(len(list_filter(_toks, t -> t IN ($stopList))) / n_tokens, 6) AS stop_ratio,
       |  round(length(regexp_replace(text, '\\s', '', 'g')) / n_tokens, 6) AS avg_token_len,
       |  round(0.4 * (length(regexp_replace(text, '[^a-z]', '', 'g')) / length(text))
       |    + 0.4 * (1.0 - abs(len(list_filter(_toks, t -> t IN ($stopList))) / n_tokens - 0.3))
       |    + 0.2 * least(1.0, n_tokens / 100.0), 6) AS quality_score
       |FROM (SELECT doc_id, text, ${tokensSql("text")} AS _toks,
       |        CAST(len(${tokensSql("text")}) AS DOUBLE) AS n_tokens
       |      FROM documents) t
       |ORDER BY doc_id""".stripMargin

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "nicht"),
    "en" -> Seq("the", "a", "is", "of", "and"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  /** Language-prediction columns over a documents frame (shared by the
    * text_langid query and the corpus_filter composite). */
  def langidFrame(docs: DataFrame): DataFrame = {
    val base = docs.withColumn("_ltoks", tokens(lower(col("text"))))
    val scored = langMarkers.foldLeft(base) { case (df, (lang, marks)) =>
      df.withColumn(s"s_$lang",
        graft.functions.native.tokens_in_set_count(col("_ltoks"), marks))
    }.withColumn("s_zh",
      length(regexp_replace(col("text"), "[^一-鿿]", "")).cast("long"))
    scored.withColumn("pred_lang",
      when(col("s_zh") > 0, "zh")
        .when(col("s_de") >= col("s_en") && col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
        .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"), "en")
        .when(col("s_es") >= col("s_fr"), "es")
        .otherwise("fr"))
  }

  /** §2.28 language ID: stopword-marker scores per language + CJK char
    * count, argmax with deterministic alphabetical tie-break. */
  def textLangid(spark: SparkSession, dir: String): DataFrame =
    langidFrame(Tables.documents(spark, dir))
      .withColumn("label_match", col("pred_lang") === col("lang"))
      .select("doc_id", "lang", "s_de", "s_en", "s_es", "s_fr", "s_zh", "pred_lang", "label_match")
      .orderBy("doc_id")

  val textLangidSql: String = {
    val scoreCols = langMarkers.map { case (lang, marks) =>
      val list = marks.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(_toks, t -> t IN ($list))) AS BIGINT) AS s_$lang"
    }.mkString(",\n       |  ")
    s"""SELECT doc_id, lang, s_de, s_en, s_es, s_fr, s_zh,
       |  CASE WHEN s_zh > 0 THEN 'zh'
       |       WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
       |       WHEN s_es >= s_fr THEN 'es'
       |       ELSE 'fr' END AS pred_lang,
       |  (CASE WHEN s_zh > 0 THEN 'zh'
       |       WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
       |       WHEN s_es >= s_fr THEN 'es'
       |       ELSE 'fr' END) = lang AS label_match
       |FROM (SELECT doc_id, lang, text,
       |  $scoreCols,
       |  CAST(length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS BIGINT) AS s_zh
       |  FROM (SELECT doc_id, lang, text, ${tokensSql("lower(text)")} AS _toks FROM documents) t0) t
       |ORDER BY doc_id""".stripMargin
  }

  /** mixed-language chunk size (tokens). */
  val LangChunk = 32

  /** §2.133 mixed-language detection — the chunk-level refinement of
    * §2.28: a doc-level language vote hides code-switching and
    * boilerplate contamination (an `en` page with an embedded `de`
    * paragraph votes `en` overall), but the corpus filters that decide
    * keep/drop/route-by-language need to KNOW a document is mixed
    * (C4/RefinedWeb drop or segment such docs). Each 32-token chunk
    * votes with the same marker scores as text_langid (token-level
    * sums — CJK chars counted inside tokens, identical to the
    * doc-level char count since whitespace carries none); per doc:
    * chunk count, distinct chunk languages, the majority language
    * (count desc, lang asc — deterministic), its share, and the mixed
    * flag.
    *
    * Scale shape: explode → ONE map-side-combined groupBy per
    * (doc, chunk) — integer marker sums, no per-row HOF lambdas (the
    * §6 round-1 finding) — then (doc, lang)-counts and a bounded
    * per-doc majority window (≤ 5 rows per doc: one per predicted
    * language). No countDistinct anywhere: n_langs falls out of the
    * (doc, pred) group count, so nothing can plan an Expand. */
  def mixedLang(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        posexplode(tokens(lower(col("text")))))
      .toDF("doc_id", "lang", "pos", "tok")
      .withColumn("chunk", floor(col("pos") / LangChunk))
    val scoreAggs = langMarkers.map { case (l, marks) =>
      sum(when(col("tok").isin(marks: _*), 1L).otherwise(0L)).as(s"s_$l")
    } :+ sum(length(regexp_replace(col("tok"), "[^一-鿿]", "")))
      .as("s_zh")
    val chunkScores = toks.groupBy("doc_id", "lang", "chunk")
      .agg(scoreAggs.head, scoreAggs.tail: _*)
    val pred = chunkScores.withColumn("pred",
      when(col("s_zh") > 0, "zh")
        .when(col("s_de") >= col("s_en") && col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
        .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"), "en")
        .when(col("s_es") >= col("s_fr"), "es")
        .otherwise("fr"))
    val byLang = pred.groupBy("doc_id", "lang", "pred")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("doc_id").orderBy(desc("cnt"), asc("pred"))
    byLang.withColumn("rk", row_number().over(w))
      .groupBy("doc_id", "lang")
      .agg(sum("cnt").as("n_chunks"),
        count(lit(1)).as("n_langs"),
        max(when(col("rk") === 1, col("pred"))).as("major_lang"),
        max(when(col("rk") === 1, col("cnt"))).as("major_cnt"))
      .select(col("doc_id"), col("lang"), col("n_chunks"), col("n_langs"),
        col("major_lang"),
        round(col("major_cnt").cast("double") /
          col("n_chunks").cast("double"), 6).as("major_frac"),
        (col("n_langs") > 1).as("is_mixed"))
      .orderBy("doc_id")
  }

  val mixedLangSql: String = {
    val scoreCols = langMarkers.map { case (l, marks) =>
      val list = marks.map(w => s"'$w'").mkString(", ")
      s"CAST(sum(CASE WHEN tok IN ($list) THEN 1 ELSE 0 END) AS BIGINT) AS s_$l"
    }.mkString(",\n       |    ")
    s"""WITH toks AS (SELECT doc_id, lang,
       |    (generate_subscripts(_toks, 1) - 1) // $LangChunk AS chunk,
       |    unnest(_toks) AS tok
       |  FROM (SELECT doc_id, lang, ${tokensSql("lower(text)")} AS _toks
       |        FROM documents) t0),
       |cs AS (SELECT doc_id, lang, chunk,
       |    $scoreCols,
       |    CAST(sum(length(regexp_replace(tok, '[^\\x{4e00}-\\x{9fff}]', '', 'g'))) AS BIGINT) AS s_zh
       |  FROM toks GROUP BY 1, 2, 3),
       |pred AS (SELECT doc_id, lang,
       |    CASE WHEN s_zh > 0 THEN 'zh'
       |         WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       |         WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
       |         WHEN s_es >= s_fr THEN 'es'
       |         ELSE 'fr' END AS pred
       |  FROM cs),
       |bl AS (SELECT doc_id, lang, pred, count(*) AS cnt
       |  FROM pred GROUP BY 1, 2, 3),
       |rk AS (SELECT doc_id, lang, pred, cnt,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY cnt DESC, pred) AS rk
       |  FROM bl)
       |SELECT doc_id, lang,
       |  CAST(sum(cnt) AS BIGINT) AS n_chunks,
       |  CAST(count(*) AS BIGINT) AS n_langs,
       |  max(CASE WHEN rk = 1 THEN pred END) AS major_lang,
       |  round(CAST(max(CASE WHEN rk = 1 THEN cnt END) AS DOUBLE) /
       |    CAST(sum(cnt) AS DOUBLE), 6) AS major_frac,
       |  count(*) > 1 AS is_mixed
       |FROM rk GROUP BY doc_id, lang
       |ORDER BY doc_id""".stripMargin
  }

  /** §2.70 repetition scoring (Gopher-style quality rule: "repetitious
    * documents are low-quality"): duplicate-token fraction, top-token
    * fraction, top-bigram fraction, composite score. Explode-then-agg
    * rather than per-row higher-order lambdas — array HOFs interpret
    * O(elements×refs) after projection collapse, while the exploded
    * form is two codegen'd partial-agg passes that scale linearly. */
  def repetitionScore(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens(lower(col("text")))))
      .toDF("doc_id", "pos", "tok")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bg = toks
      .withColumn("bg", concat_ws(" ", lag("tok", 1).over(w), col("tok")))
      .filter(col("pos") >= 1)
    val uni = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max("c").as("max_tok"))
    val bi = bg.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum("c").as("n_bigrams"), max("c").as("max_bg"))
    val topTok = col("max_tok").cast("double") / col("n_tokens")
    val topBg = coalesce(col("max_bg").cast("double") / col("n_bigrams"), lit(0.0))
    uni.join(bi, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        round(col("n_distinct").cast("double") / col("n_tokens"), 6).as("distinct_frac"),
        round(topTok, 6).as("top_token_frac"),
        round(topBg, 6).as("top_bigram_frac"),
        round(lit(0.5) * topTok + lit(0.5) * topBg, 6).as("rep_score"))
      .orderBy("doc_id")
  }

  val repetitionScoreSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS tok
       |  FROM (SELECT doc_id, ${tokensSql("lower(text)")} AS t FROM documents) d),
       |bgr AS (SELECT doc_id, bg FROM (
       |  SELECT doc_id, pos,
       |    lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) || ' ' || tok AS bg
       |  FROM toks) t WHERE pos >= 2),
       |us AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       |    count(*) AS n_distinct, max(c) AS max_tok
       |  FROM (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2) u
       |  GROUP BY doc_id),
       |bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS max_bg
       |  FROM (SELECT doc_id, bg, count(*) AS c FROM bgr GROUP BY 1, 2) b
       |  GROUP BY doc_id)
       |SELECT us.doc_id, n_tokens,
       |  round(n_distinct / CAST(n_tokens AS DOUBLE), 6) AS distinct_frac,
       |  round(max_tok / CAST(n_tokens AS DOUBLE), 6) AS top_token_frac,
       |  round(coalesce(max_bg / CAST(n_bigrams AS DOUBLE), 0.0), 6) AS top_bigram_frac,
       |  round(0.5 * (max_tok / CAST(n_tokens AS DOUBLE))
       |    + 0.5 * coalesce(max_bg / CAST(n_bigrams AS DOUBLE), 0.0), 6) AS rep_score
       |FROM us LEFT JOIN bs ON us.doc_id = bs.doc_id
       |ORDER BY us.doc_id""".stripMargin

  // PII patterns: valid in BOTH Java regex (Spark) and RE2 (DuckDB) —
  // no lookarounds, no backrefs.
  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "\\b555-[0-9]{4}\\b"
  private val IpRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Deterministic PII enrichment: the synthetic corpus carries no PII,
    * so each doc gets an email/phone/IP derived from its id — the scrub
    * then has real (and oracle-checkable) work to do. Counts VARY per
    * doc (extra email every 3rd id, extra phone every 5th, no IP every
    * 7th) so the count columns exercise real per-row logic, not a
    * constant. */
  private def piiText: Column = concat(col("text"),
    lit(" contact user"), col("doc_id").cast("string"),
    lit("@example.com or call 555-"),
    lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
    when(col("doc_id") % 3 === 0,
      concat(lit(" cc admin"), col("doc_id").cast("string"), lit("@example.org")))
      .otherwise(lit("")),
    when(col("doc_id") % 5 === 0, lit(" or 555-9999")).otherwise(lit("")),
    when(col("doc_id") % 7 =!= 0,
      concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit("."),
        ((col("doc_id") * 7) % 256).cast("string")))
      .otherwise(lit("")))

  private val piiTextSql: String =
    "text || ' contact user' || doc_id || '@example.com or call 555-' || " +
      "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || " +
      "(CASE WHEN doc_id % 3 = 0 THEN ' cc admin' || doc_id || '@example.org' ELSE '' END) || " +
      "(CASE WHEN doc_id % 5 = 0 THEN ' or 555-9999' ELSE '' END) || " +
      "(CASE WHEN doc_id % 7 != 0 THEN ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) ELSE '' END)"

  /** §2.71 PII scrubbing: count + redact emails, phone numbers, and
    * IPv4 addresses (replacement placeholders keep the text trainable).
    * One codegen'd scan — per-row regex work, embarrassingly parallel. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("pii_text", piiText)
      .select(col("doc_id"),
        regexp_count(col("pii_text"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("pii_text"), lit(PhoneRe)).cast("long").as("n_phones"),
        regexp_count(col("pii_text"), lit(IpRe)).cast("long").as("n_ips"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("pii_text"), EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>"),
          IpRe, "<IP>").as("scrubbed"))
      .orderBy("doc_id")

  // NOTE: DuckDB string literals keep backslashes as-is, so the same
  // pattern strings (single \b, \.) serve both engines verbatim.
  val piiScrubSql: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(pii_text, '$EmailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(pii_text, '$PhoneRe')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(pii_text, '$IpRe')) AS BIGINT) AS n_ips,
       |  regexp_replace(regexp_replace(regexp_replace(pii_text,
       |    '$EmailRe', '<EMAIL>', 'g'),
       |    '$PhoneRe', '<PHONE>', 'g'),
       |    '$IpRe', '<IP>', 'g') AS scrubbed
       |FROM (SELECT doc_id, $piiTextSql AS pii_text FROM documents) t
       |ORDER BY doc_id""".stripMargin

  /** Vocabulary size used by [[vocabCoverage]]. */
  val VocabSize = 50

  /** §2.88 vocabulary coverage: build the top-[[VocabSize]] token
    * vocabulary from the corpus itself (count desc, token asc — fully
    * deterministic), then score every document's out-of-vocabulary
    * rate — the tokenizer-evaluation loop ("how much of tomorrow's
    * data does today's vocab cover"). Scale: one token count agg
    * (partial-agg'd), top-K is a tiny sorted limit broadcast back
    * into a leftsemi/leftanti pair of joins on the exploded tokens. */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("tok")).limit(VocabSize)
      .select(col("tok"))
    val perDoc = toks.join(broadcast(vocab), Seq("tok"), "leftanti")
      .groupBy("doc_id").agg(count(lit(1)).as("n_oov"))
    toks.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("n_oov", coalesce(col("n_oov"), lit(0L)))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
      .select("doc_id", "n_tokens", "n_oov", "oov_rate")
      .orderBy("doc_id")
  }

  val vocabCoverageSql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(${tokensSql("lower(text)")}) AS tok
       |  FROM documents),
       |vocab AS (SELECT tok FROM (
       |  SELECT tok, count(*) AS c FROM toks GROUP BY tok
       |  ORDER BY c DESC, tok LIMIT $VocabSize) v),
       |oov AS (SELECT doc_id, count(*) AS n_oov FROM toks
       |  WHERE tok NOT IN (SELECT tok FROM vocab) GROUP BY doc_id)
       |SELECT t.doc_id, count(*) AS n_tokens,
       |  CAST(coalesce(min(o.n_oov), 0) AS BIGINT) AS n_oov,
       |  round(coalesce(min(o.n_oov), 0) / CAST(count(*) AS DOUBLE), 6) AS oov_rate
       |FROM toks t LEFT JOIN oov o ON t.doc_id = o.doc_id
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** §2.89 BPE pair statistics: frequency of adjacent character pairs
    * inside tokens, weighted by token frequency — the statistic behind
    * the first merge decision when inducing a BPE vocabulary. Top 20,
    * deterministic tie-break. Scale: the token-frequency table (not
    * the corpus) drives the per-token char-pair explode, so the heavy
    * corpus scan happens once in the count agg. */
  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    val tokCounts = Tables.documents(spark, dir)
      .select(explode(tokens(lower(col("text")))).as("tok"))
      .filter(length(col("tok")) >= 2)
      .groupBy("tok").agg(count(lit(1)).as("c"))
    tokCounts
      .select(col("c"),
        explode(graft.functions.native.char_bigrams(col("tok"))).as("pair"))
      .groupBy("pair").agg(sum("c").as("n"))
      .orderBy(desc("n"), asc("pair")).limit(20)
  }

  val bpePairsSql: String =
    s"""WITH tc AS (SELECT tok, count(*) AS c FROM (
       |    SELECT unnest(${tokensSql("lower(text)")}) AS tok FROM documents) t
       |  WHERE length(tok) >= 2 GROUP BY tok),
       |pairs AS (SELECT c,
       |    unnest(list_transform(generate_series(1, length(tok) - 1),
       |      i -> substr(tok, CAST(i AS INT), 2))) AS pair
       |  FROM tc)
       |SELECT pair, CAST(sum(p.c) AS BIGINT) AS n
       |FROM pairs p GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin

  val BpeRounds = 3

  /** Greedy left-to-right merge of adjacent (a, b) into one symbol —
    * the BPE merge step — as the native [[graft.functions.BpeMergeFold]]
    * kernel: one compiled two-pointer scan per row (greedy non-overlap,
    * so "aaa" under (a,a) yields [aa, a], not [aa, aa]). The earlier
    * interpreted aggregate(named_struct) lambda chained across rounds
    * was the documented CollapseProject O(n×refs) pitfall. */
  private def mergeCol(a: String, b: String)(symbols: Column): Column =
    graft.functions.native.bpe_merge_fold(symbols, a, b)

  /** Test hook: the merge kernel applied to an arbitrary symbols column. */
  private[graft] def testMerge(a: String, b: String)(symbols: Column): Column =
    mergeCol(a, b)(symbols)

  /** §2.90 BPE vocabulary induction, for real: [[BpeRounds]] iterative
    * merge rounds over the corpus token-frequency table. Each round
    * counts adjacent symbol pairs (weighted by token frequency), picks
    * the top pair (count desc, pair asc — deterministic), and greedily
    * merges it in every token's symbol sequence; later rounds merge
    * MERGED symbols (e.g. round 2 can pick ('ab', 'c')). Output: one
    * row per round (round, pair, n).
    *
    * Scale shape: the fold runs over the DISTINCT-token table, not the
    * corpus — the corpus is scanned once for the frequency agg; each
    * round is one explode+agg over the (small) vocab plus an O(1)
    * driver-side top-pair collect, the same tiny-stat pattern as
    * Silver's medians. The merge itself is the compiled
    * [[graft.functions.BpeMergeFold]] kernel, and the symbols frame is
    * localCheckpoint'd per round — plan barrier + no recompute of
    * earlier rounds, the same lineage-cut ccBigSmallStar uses. The
    * DuckDB oracle replays each round's fold with a recursive CTE over
    * symbol positions. */
  /** The shared BPE induction loop: `BpeRounds` top-pair selections +
    * greedy folds over the distinct-token table. `foldLast` controls
    * whether the final round's merge is applied to the symbols frame —
    * [[bpeMerges]] only reports the picked pairs (the last fold has no
    * consumer there); [[bpeEncode]] consumes the fully-merged symbols. */
  private def learnAndFold(tc: DataFrame, foldLast: Boolean)
      : (Seq[(Int, String, Long)], DataFrame) = {
    // lazy barriers: the materialization piggybacks each round's
    // top-pair job instead of running a second job per round
    var syms = graft.Barrier("bpe.symbols", tc.withColumn("symbols", split(col("tok"), "")))
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, Long)]()
    for (r <- 1 to BpeRounds) {
      val top = syms.select(col("c"),
          explode(graft.functions.native.adjacent_pairs(col("symbols"))).as("p"))
        .groupBy("p").agg(sum("c").as("n"))
        .orderBy(desc("n"), asc("p.a"), asc("p.b")).limit(1)
        .select("p.a", "p.b", "n").head()
      val (a, b, n) = (top.getString(0), top.getString(1), top.getLong(2))
      merges += ((r, s"$a $b", n))
      if (r < BpeRounds || foldLast)
        syms = graft.Barrier("bpe.symbols",
          syms.withColumn("symbols", mergeCol(a, b)(col("symbols"))))
    }
    (merges.toSeq, syms)
  }

  private def bpeTokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(tokens(normalize(col("text")))).as("tok"))
      .filter(length(col("tok")) >= 2)
      .groupBy("tok").agg(count(lit(1)).as("c"))

  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (merges, _) = learnAndFold(bpeTokenCounts(spark, dir), foldLast = false)
    merges.toDF("round", "pair", "n").orderBy("round")
  }

  /** The shared oracle chain: tc + syms_0 + per-round (top pair, fold)
    * CTEs — the WITH RECURSIVE body both [[bpeMergesSql]] and
    * [[bpeEncodeSql]] build on (`syms_$BpeRounds` is the fully-merged
    * vocabulary). Every chain CTE is MATERIALIZED (round 13): DuckDB
    * 1.0 inlines CTEs per reference, and the recursive fold references
    * its round's `tp_$r` once PER RECURSIVE STEP while each `syms_$r`
    * feeds two CTEs of round r+1 — the unmaterialized chain re-ran the
    * corpus tokenization exponentially often and blew the 60 s sf1
    * guard; materialized, the whole trio replays in 1–3 s at sf1
    * (byte-identical results, re-proved at sf0.01/0.1). */
  private val bpeChainSql: String = {
    // one merge round: input CTE (tok, c, symbols LIST) → top pair +
    // fold via recursive CTE over symbol positions → output CTE
    def round(r: Int, in: String): String =
      s"""pc_$r AS MATERIALIZED (SELECT list_extract(symbols, i) AS a,
         |    list_extract(symbols, i + 1) AS b, CAST(sum(c) AS BIGINT) AS n
         |  FROM $in, unnest(generate_series(1, len(symbols) - 1)) AS u(i)
         |  GROUP BY 1, 2),
         |tp_$r AS MATERIALIZED (SELECT a, b, n FROM pc_$r ORDER BY n DESC, a, b LIMIT 1),
         |fold_$r AS (
         |  SELECT tok, c, symbols, 1 AS i,
         |    CAST([] AS VARCHAR[]) AS out, false AS lm FROM $in
         |  UNION ALL
         |  SELECT f.tok, f.c, f.symbols, f.i + 1,
         |    CASE WHEN NOT f.lm AND len(f.out) > 0
         |              AND list_extract(f.out, -1) = tp.a
         |              AND list_extract(f.symbols, f.i) = tp.b
         |         THEN list_concat(list_slice(f.out, 1, len(f.out) - 1),
         |                          [tp.a || tp.b])
         |         ELSE list_append(f.out, list_extract(f.symbols, f.i)) END,
         |    CASE WHEN NOT f.lm AND len(f.out) > 0
         |              AND list_extract(f.out, -1) = tp.a
         |              AND list_extract(f.symbols, f.i) = tp.b
         |         THEN true ELSE false END
         |  FROM fold_$r f, tp_$r tp WHERE f.i <= len(f.symbols)),
         |syms_$r AS MATERIALIZED (SELECT tok, c, out AS symbols FROM fold_$r
         |  WHERE i = len(symbols) + 1)""".stripMargin
    val rounds = (1 to BpeRounds)
      .map(r => round(r, if (r == 1) "syms_0" else s"syms_${r - 1}"))
      .mkString(",\n")
    s"""tc AS MATERIALIZED (
       |  SELECT tok, count(*) AS c FROM (
       |    SELECT unnest(${tokensSql(normalizeSql("text"))}) AS tok
       |    FROM documents) t
       |  WHERE length(tok) >= 2 GROUP BY tok),
       |syms_0 AS MATERIALIZED (SELECT tok, c, string_split(tok, '') AS symbols FROM tc),
       |$rounds""".stripMargin
  }

  val bpeMergesSql: String = {
    val out = (1 to BpeRounds)
      .map(r => s"SELECT $r AS round, a || ' ' || b AS pair, n FROM tp_$r")
      .mkString("\nUNION ALL ")
    s"""WITH RECURSIVE $bpeChainSql
       |$out
       |ORDER BY round""".stripMargin
  }

  /** §2.121 BPE tokenizer application — the missing half of the
    * §2.89/90 induction loop: encode every document with the learned
    * merge table and measure the compression it buys. The encoding
    * runs over the DISTINCT-token vocabulary only (the same
    * fold-over-vocab trick as training: at 100 TB the corpus stream
    * is trillions of tokens but the vocabulary is ~10⁶ rows, so the
    * per-token symbol counts are computed once per distinct token and
    * joined back — the token→dict join is the vocab-sized hash join
    * every tokenizer-application pipeline has). Sub-2-char tokens
    * bypass training (they have no pairs) and encode as themselves.
    * Output per doc: token/char/symbol counts + symbols-per-char
    * ratio (< 1 once merges bite; the corpus-mean ratio is the
    * training objective BPE greedily descends). */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(normalize(col("text")))).as("tok"))
    val (_, syms) = learnAndFold(bpeTokenCounts(spark, dir), foldLast = true)
    val dict = syms.select(col("tok"), size(col("symbols")).cast("long").as("n_syms"))
    // every >= 2-char token is in the dict by construction; sub-2-char
    // tokens (no pairs, untouched by merges) encode as themselves via
    // the left-join miss — no extra corpus-wide DISTINCT for them
    toks.join(dict, Seq("tok"), "left")
      .withColumn("n_syms", coalesce(col("n_syms"), length(col("tok")).cast("long")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(length(col("tok"))).cast("long").as("n_chars"),
        sum(col("n_syms")).as("n_symbols"))
      .withColumn("ratio",
        round(col("n_symbols").cast("double") / col("n_chars"), 6))
      .select("doc_id", "n_tokens", "n_chars", "n_symbols", "ratio")
      .orderBy("doc_id")
  }

  val bpeEncodeSql: String =
    s"""WITH RECURSIVE $bpeChainSql,
       |dict AS (
       |  SELECT tok, CAST(len(symbols) AS BIGINT) AS n_syms FROM syms_$BpeRounds),
       |dtoks AS (SELECT doc_id, unnest(${tokensSql(normalizeSql("text"))}) AS tok
       |  FROM documents)
       |SELECT doc_id, count(*) AS n_tokens,
       |  CAST(sum(length(tok)) AS BIGINT) AS n_chars,
       |  CAST(sum(coalesce(n_syms, length(tok))) AS BIGINT) AS n_symbols,
       |  round(sum(coalesce(n_syms, length(tok))) / CAST(sum(length(tok)) AS DOUBLE), 6) AS ratio
       |FROM dtoks LEFT JOIN dict USING (tok)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** §2.31 document fingerprints: md5-derived 60-bit id + polynomial
    * rolling hash over the normalized character stream. */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      hash64(normalize(col("text"))).as("fp_md5"),
      polyHash(normalize(col("text"))).as("fp_poly"))
      .orderBy("doc_id")

  val textFingerprintSql: String =
    s"""SELECT doc_id,
       |  ${hash64Sql(normalizeSql("text"))} AS fp_md5,
       |  ${polyHashSql(normalizeSql("text"))} AS fp_poly
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Zipf head/tail LM join (§5): token frequencies are Zipfian, so
    * the top-K LM rows ("head") cover most of the token MASS while
    * staying broadcast-sized no matter how large the vocabulary grows.
    * Broadcast-join the head, then hash-join ONLY the head-misses
    * against the remaining tail — at 100 TB this turns the dominant
    * whole-corpus shuffle of the token stream into a map-side join for
    * the bulk of tokens, shuffling just the rare-token residue.
    *
    * Semantics-preserving by construction: head ∪ tail partitions the
    * LM, a `_h` marker (never null on a hit — LM value columns are
    * counts) routes each probe row to exactly one side, and the union
    * of (head hits) and (misses ⋈ tail) equals the direct join for
    * both `inner` and `left` types. Head selection is deterministic:
    * ties on the frequency column break by key.
    *
    * `split = false` degenerates to the direct `big ⋈ lm` join — see
    * [[useZipfSplit]] for when and why. */
  private[graft] def zipfHeadTailJoin(big: DataFrame, lm: DataFrame,
      keys: Seq[String], freqCol: String, joinType: String,
      split: Boolean = true, headK: Int = ZipfHeadK): DataFrame = {
    require(joinType == "inner" || joinType == "left", joinType)
    if (!split) return big.join(lm, keys, joinType)
    val valCols = lm.columns.filterNot(keys.contains).toSeq
    val head = lm.orderBy((col(freqCol).desc +: keys.map(col)): _*).limit(headK)
    val tail = lm.join(broadcast(head.select(keys.map(col): _*)), keys, "left_anti")
    val withHead = big.join(broadcast(head.withColumn("_h", lit(true))), keys, "left")
    val hits = withHead.filter(col("_h")).drop("_h")
    val misses = withHead.filter(col("_h").isNull).drop(("_h" +: valCols): _*)
    hits.unionByName(misses.join(tail, keys, joinType))
  }

  /** Head size: bounded (broadcast-safe at any corpus size) yet big
    * enough that a Zipfian corpus resolves almost all tokens map-side. */
  private val ZipfHeadK = 4096

  /** Stats-driven strategy gate for the head/tail split — the decision
    * a cost-based optimizer makes from table stats, made here from the
    * input size the session already stats for shuffle sizing (§5).
    *
    * The split only PAYS when the full LM exceeds the broadcast
    * threshold: below it, Spark broadcasts the whole LM anyway (the
    * direct join is already map-side and shuffle-free) and the split's
    * extra stages (top-K selection, anti-join, two-branch union) are
    * pure overhead — measured at sf1 on this 31-word-vocabulary
    * corpus: text_entropy 6.3→8.0 s, text_entropy2 4.0→8.6 s (§6
    * round-5 negative result). A corpus big enough to push vocabulary
    * past broadcast size (empirically ≥ ~1 GB of raw text → ≥ ~10⁶
    * distinct tokens ≈ tens of MB of LM) flips the economics: the
    * direct join must hash-shuffle the ENTIRE token stream, and the
    * split's broadcast head resolves the Zipf bulk map-side. Falls
    * back to the split (the safe-at-scale choice) when the local stat
    * call fails (e.g. non-local filesystem on a cluster, where the
    * deployment would substitute a `getContentSummary` stat). */
  private[graft] val ZipfSplitMinDocBytes: Long = 1L << 30
  private[graft] def useZipfSplit(dir: String): Boolean =
    (try org.apache.commons.io.FileUtils.sizeOf(
        new java.io.File(s"$dir/documents.parquet"))
     catch { case _: Exception => Long.MaxValue }) >= ZipfSplitMinDocBytes

  /** §2.95 unigram cross-entropy scoring: per-document mean −log₂ p(tok)
    * under the corpus's own unigram LM — the perplexity-style quality
    * signal LLM pipelines threshold on (low = repetitive/templated,
    * high = rare-token soup; both tails get dropped). Every token is in
    * the LM by construction (it IS the corpus), so no OOV smoothing.
    *
    * Scale shape: one shuffle to build the LM (tok → count), then the
    * [[zipfHeadTailJoin]] — the broadcast head resolves the Zipf bulk
    * of tokens map-side and only rare-token residue hash-joins the
    * tail (the LM can exceed broadcast size at corpus scale, its top-K
    * head cannot) — then one partial-agg groupBy(doc_id). All linear;
    * no collect. −log₂ p is rendered as (ln N − ln c)/ln 2 IDENTICALLY
    * on both engines, and the per-doc mean is rounded to 4 dp to
    * absorb libm last-ulp and summation-order differences (same
    * tolerance class as corr_stats). */
  def textEntropy(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(normalize(col("text")))).as("tok"))
    val lm = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val tot = lm.agg(sum("c").cast("double").as("n"))
    zipfHeadTailJoin(toks, lm, Seq("tok"), "c", "inner", useZipfSplit(dir))
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg((log(col("n")) - log(col("c").cast("double"))) / log(lit(2.0))), 4)
          .as("xent"))
      .orderBy("doc_id")
  }

  val textEntropySql: String =
    s"""WITH toks AS (SELECT doc_id,
       |    unnest(${tokensSql(normalizeSql("text"))}) AS tok FROM documents),
       |lm AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
       |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM lm)
       |SELECT doc_id, count(*) AS n_tokens,
       |  round(avg((ln(n) - ln(CAST(c AS DOUBLE))) / ln(2.0)), 4) AS xent
       |FROM toks JOIN lm USING (tok), tot
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** §2.104 bigram conditional cross-entropy: per-document mean
    * −log₂ p(tok | prev) under the corpus's own bigram LM — the
    * context-aware sequel to [[textEntropy]]: repetitive/templated
    * docs whose bigrams are corpus-common score low even when their
    * unigrams are rare, and vice versa. p(tok|prev) =
    * count(prev,tok) / count(prev,*), both read off the bigram table
    * so numerator ≤ denominator exactly. Docs with < 2 tokens have no
    * bigrams and drop out (inner join), documented behavior.
    *
    * Scale shape: one window shuffle per doc_id for lag(), one
    * shuffle to count bigrams, a context rollup OF the bigram table
    * (vocab-sized), then [[zipfHeadTailJoin]] twice — bigram
    * frequencies are even more skewed than unigrams, so the broadcast
    * heads of the bigram LM and the context rollup resolve the bulk of
    * the stream map-side; only rare-bigram residue hash-joins the
    * tails. No broadcast assumption on either full LM. */
  def textEntropy2(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens(normalize(col("text")))))
      .toDF("doc_id", "pos", "tok")
    val bi = toks
      .withColumn("prev", lag(col("tok"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select("doc_id", "prev", "tok")
    val blm = bi.groupBy("prev", "tok").agg(count(lit(1)).as("cb"))
    val ctx = blm.groupBy("prev").agg(sum("cb").as("cc"))
    zipfHeadTailJoin(
        zipfHeadTailJoin(bi, blm, Seq("prev", "tok"), "cb", "inner", useZipfSplit(dir)),
        ctx, Seq("prev"), "cc", "inner", useZipfSplit(dir))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg((log(col("cc").cast("double")) - log(col("cb").cast("double")))
          / log(lit(2.0))), 4).as("xent2"))
      .orderBy("doc_id")
  }

  /** §2.106 held-out cross-entropy: score one split of the corpus
    * under a unigram LM FROZEN on the other split — the production
    * filter shape ([[textEntropy]] scores the corpus under its own LM,
    * so every token is in-vocabulary by construction; a deployed
    * filter scores NEW documents and must handle OOV). Train =
    * doc_id % 5 ≠ 0, score = doc_id % 5 = 0 (the same deterministic
    * split convention as dedup_incremental). Add-1 smoothing with a
    * single UNK slot: p(tok) = (c + 1) / (N + V + 1), so an unseen
    * token scores −log₂(1/(N+V+1)) instead of ∞. All log arguments
    * are integers (counts), so (ln(N+V+1) − ln(c+1))/ln 2 is the same
    * IEEE computation on both engines; 4 dp absorbs summation order.
    *
    * Scale shape: LM build = one hash-partitioned groupBy over the
    * train split; (N, V) is a 1-row broadcast; scoring is a LEFT
    * [[zipfHeadTailJoin]] toks⋈lm (OOV → miss the broadcast head AND
    * the tail → null → c=0) + one partial-agg groupBy. Linear, no
    * collect, no broadcast assumption on the LM itself. */
  def textEntropyHoldout(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(normalize(col("text")))).as("tok"))
    val train = toks.filter(col("doc_id") % 5 =!= 0)
    val lm = train.groupBy("tok").agg(count(lit(1)).as("c"))
    val stats = lm.agg(sum("c").as("n"), count(lit(1)).as("v"))
    zipfHeadTailJoin(toks.filter(col("doc_id") % 5 === 0), lm,
        Seq("tok"), "c", "left", useZipfSplit(dir))
      .crossJoin(broadcast(stats))
      .withColumn("c1", coalesce(col("c"), lit(0L)) + 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(col("c").isNull.cast("long")), 6).as("oov_rate"),
        round(avg((log((col("n") + col("v") + 1).cast("double"))
          - log(col("c1").cast("double"))) / log(lit(2.0))), 4).as("xent"))
      .orderBy("doc_id")
  }

  val textEntropyHoldoutSql: String =
    s"""WITH toks AS (SELECT doc_id,
       |    unnest(${tokensSql(normalizeSql("text"))}) AS tok FROM documents),
       |lm AS (SELECT tok, count(*) AS c FROM toks WHERE doc_id % 5 != 0 GROUP BY tok),
       |stats AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v FROM lm)
       |SELECT doc_id, count(*) AS n_tokens,
       |  round(avg(CASE WHEN lm.c IS NULL THEN 1 ELSE 0 END), 6) AS oov_rate,
       |  round(avg((ln(CAST(n + v + 1 AS DOUBLE))
       |    - ln(CAST(coalesce(lm.c, 0) + 1 AS DOUBLE))) / ln(2.0)), 4) AS xent
       |FROM (SELECT * FROM toks WHERE doc_id % 5 = 0) s
       |LEFT JOIN lm USING (tok), stats
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val textEntropy2Sql: String =
    s"""WITH toks AS (SELECT doc_id, pos, tok FROM (
       |    SELECT doc_id, unnest(${tokensSql(normalizeSql("text"))}) AS tok,
       |      generate_subscripts(${tokensSql(normalizeSql("text"))}, 1) AS pos
       |    FROM documents) t),
       |bi AS (SELECT doc_id, tok,
       |    lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
       |  FROM toks),
       |bi2 AS (SELECT doc_id, prev, tok FROM bi WHERE prev IS NOT NULL),
       |blm AS (SELECT prev, tok, count(*) AS cb FROM bi2 GROUP BY prev, tok),
       |ctx AS (SELECT prev, CAST(sum(cb) AS BIGINT) AS cc FROM blm GROUP BY prev)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  round(avg((ln(CAST(cc AS DOUBLE)) - ln(CAST(cb AS DOUBLE))) / ln(2.0)), 4) AS xent2
       |FROM bi2 JOIN blm USING (prev, tok) JOIN ctx USING (prev)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** §2.123 TF-IDF: top-3 terms per document by tf·idf with smooth
    * idf = ln((N+1)/(df+1)). The classic relevance/keyword-extraction
    * primitive the corpus-quality family was missing.
    *
    * Scale shape: tf is one map-side-combined groupBy over the token
    * stream; df derives from tf (NOT a second corpus scan — df = how
    * many (doc,term) rows each term has) and is vocabulary-sized, so
    * it broadcast-joins back onto tf; N is a 1-row stat broadcast.
    * The only corpus-sized shuffles are the tf groupBy and the
    * per-doc top-3 window (WindowGroupLimit prunes map-side). At a
    * 100 TB corpus the vocabulary can exceed broadcast size — the
    * join degrades to a hash join on the same keys, nothing else
    * changes. Ranking compares the UNROUNDED score (identical IEEE
    * doubles from integer tf/df/N on both engines); rounding is
    * display-only. */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val words = docs.select(col("doc_id"),
      explode(tokens(lower(col("text")))).as("term"))
    val tf = words.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(broadcast(df), "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf") * log((col("n") + lit(1.0)) / (col("df") + lit(1.0))))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(desc("score"), asc("term"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"),
        round(col("score"), 6).as("tfidf"))
      .orderBy("doc_id", "rk")
  }

  val tfidfSql: String =
    s"""WITH words AS (SELECT doc_id,
       |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n FROM documents),
       |scored AS (SELECT doc_id, term, tf, df,
       |    tf * ln((n + 1.0) / (df + 1.0)) AS score
       |  FROM tf JOIN df USING (term) CROSS JOIN n),
       |ranked AS (SELECT doc_id, term, tf, df, score,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, term) AS rk
       |  FROM scored)
       |SELECT doc_id, rk, term, tf, df, round(score, 6) AS tfidf
       |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /** §2.128 exact heavy hitters at sketch cost: every term with ≥ 3%
    * of all token occurrences, via SpaceSaving candidates + exact
    * recount — sketch-pruned but EXACT output.
    *
    * The full-vocabulary groupBy a naive HAVING needs shuffles every
    * distinct term — at 100 TB that is billions of keys, almost all
    * hopeless losers. [[graft.functions.SpaceSaving]] compresses the
    * stream to ≤ k = 256 counters per partition partial (mergeable,
    * O(k) state, NO shuffle — partials meet in one 1-row agg), and its
    * superset guarantee (any term above N/k survives; 256 ⇒ 7.7×
    * margin on the 3% threshold) means the ≤ 256 candidates provably
    * contain every true heavy hitter. The exact pass then recounts
    * ONLY candidates: a broadcast semi-join prunes the stream map-side
    * and the recount groupBy shuffles ≤ 256 keys. Threshold compares
    * in exact integer arithmetic (n·100 ≥ 3·N). */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.SpaceSaving.space_saving
    val words = Tables.documents(spark, dir)
      .select(explode(tokens(lower(col("text")))).as("word"))
    val cand = words.agg(space_saving(col("word"), 256).as("cands"))
      .select(explode(col("cands")).as("word"))
    val total = words.agg(count(lit(1)).as("n_total"))
    words.join(broadcast(cand), "word", "leftsemi")
      .groupBy("word").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .filter(col("n") * 100 >= col("n_total") * 3)
      .select(col("word"), col("n"))
      .orderBy(desc("n"), asc("word"))
  }

  val heavyHittersSql: String =
    s"""WITH words AS (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
       |  FROM documents),
       |tot AS (SELECT count(*) AS n_total FROM words)
       |SELECT word, count(*) AS n
       |FROM words, tot
       |GROUP BY word, n_total
       |HAVING count(*) * 100 >= n_total * 3
       |ORDER BY n DESC, word""".stripMargin

  /** §2.171 Zipf-law fit over the term frequency head: slope/intercept
    * of ln(freq) ~ ln(rank) for the top-200 terms — the standard
    * corpus-health fingerprint (natural text ≈ −1; the §2.95 LM split
    * already keys off this head/tail structure).
    *
    * Scale shape: one word-count groupBy, then orderBy+limit — which
    * Spark plans as TakeOrderedAndProject (per-partition top-200 heaps
    * merged on the driver, never a global sort); the closed-form least
    * squares runs over ≤200 rows. Ranks are assigned on the ≤200-row
    * frame by a window — bounded, not data-proportional. */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    val head = Tables.documents(spark, dir)
      .select(explode(tokens(lower(col("text")))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("term"))
      .limit(200)
    val w = Window.orderBy(desc("freq"), asc("term"))
    head.withColumn("rank", row_number().over(w))
      .select(log(col("rank")).as("lx"), log(col("freq")).as("ly"))
      .agg(count(lit(1)).as("n_terms"),
        round((avg(col("lx") * col("ly")) - avg("lx") * avg("ly")) /
          (avg(col("lx") * col("lx")) - avg("lx") * avg("lx")), 6).as("slope"),
        round(avg("ly") -
          (avg(col("lx") * col("ly")) - avg("lx") * avg("ly")) /
            (avg(col("lx") * col("lx")) - avg("lx") * avg("lx")) * avg("lx"), 6)
          .as("intercept"))
  }

  val zipfFitSql: String =
    s"""WITH tf AS (
       |  SELECT t AS term, count(*) AS freq
       |  FROM (SELECT unnest(${tokensSql("lower(text)")}) AS t FROM documents) x
       |  WHERE t <> '' GROUP BY t ORDER BY freq DESC, term LIMIT 200),
       |rk AS (SELECT term, freq,
       |  row_number() OVER (ORDER BY freq DESC, term) AS rank FROM tf),
       |pts AS (SELECT ln(rank) AS lx, ln(freq) AS ly FROM rk)
       |SELECT count(*) AS n_terms,
       |  round((avg(lx*ly) - avg(lx)*avg(ly)) / (avg(lx*lx) - avg(lx)*avg(lx)), 6)
       |    AS slope,
       |  round(avg(ly) - (avg(lx*ly) - avg(lx)*avg(ly)) /
       |    (avg(lx*lx) - avg(lx)*avg(lx)) * avg(lx), 6) AS intercept
       |FROM pts""".stripMargin

  /** §2.172 language-ID confusion matrix — the evaluation harness for
    * §2.28: (true lang, predicted lang) counts plus recall share
    * within each true language. Same single-scan marker scoring as
    * text_langid; the confusion aggregate is ≤ |langs|² rows, and the
    * recall window partitions over those bounded cells only. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
    langidFrame(Tables.documents(spark, dir))
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
      .withColumn("recall_pct",
        round(col("n") * 100.0 / sum("n").over(w), 4))
      .orderBy("lang", "pred_lang")
  }

  val langConfusionSql: String = {
    val scoreCols = langMarkers.map { case (lang, marks) =>
      val list = marks.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(_toks, t -> t IN ($list))) AS BIGINT) AS s_$lang"
    }.mkString(",\n       |  ")
    s"""WITH scored AS (SELECT doc_id, lang,
       |  $scoreCols,
       |  CAST(length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS BIGINT) AS s_zh
       |  FROM (SELECT doc_id, lang, text, ${tokensSql("lower(text)")} AS _toks FROM documents) t0),
       |pred AS (SELECT lang,
       |  CASE WHEN s_zh > 0 THEN 'zh'
       |       WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
       |       WHEN s_es >= s_fr THEN 'es'
       |       ELSE 'fr' END AS pred_lang
       |  FROM scored)
       |SELECT lang, pred_lang, count(*) AS n,
       |  round(count(*) * 100.0 / sum(count(*)) OVER (PARTITION BY lang), 4)
       |    AS recall_pct
       |FROM pred GROUP BY lang, pred_lang
       |ORDER BY lang, pred_lang""".stripMargin
  }

  /** §2.294 `heaps_fit`: Heaps'-law vocabulary-growth fit V(n) ≈ K·n^β
    * — the §2.171 Zipf rank-frequency law's corpus-size twin, and the
    * number a tokenizer/vocab budget decision extrapolates from ("at
    * 100 TB, how many distinct tokens will we see?"). β comes from
    * log-log OLS over power-of-two document-prefix checkpoints.
    *
    * Scale shape: ONE corpus-sized term shuffle (term → min doc_id,
    * the tfidf/source_overlap shape) collapses to vocabulary grain,
    * then to ≤64 first-appearance BUCKETS (power-of-two, via the
    * §2.290 integer length(bin(x))−1 — no libm in the bucketing);
    * document counts bucket identically; the checkpoint cumulative,
    * join, and OLS run on the ≤20-row checkpoint frame. The prefix
    * trick avoids |checkpoints| passes: V(2ʲ) = Σ buckets ≤ j because
    * a term is IN prefix c iff its FIRST occurrence is.
    *
    * Determinism: counts exact integers end-to-end; ln/OLS on the
    * bounded checkpoint frame is the §2.171 precedent (live ln over
    * identical integer arguments, avg over a fixed tiny frame). */
  def heapsFit(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextFunctions.tokens
    val docs = Tables.documents(spark, dir)
    val termB = docs
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(min("doc_id").as("fid"))
      .groupBy(expr(
        "CASE WHEN fid <= 1 THEN 0 ELSE length(bin(fid - 1)) END").as("b"))
      .agg(count(lit(1)).as("vterms"))
    val docB = docs
      .groupBy(expr(
        "CASE WHEN doc_id <= 1 THEN 0 ELSE length(bin(doc_id - 1)) END")
        .as("b"))
      .agg(count(lit(1)).as("ndocs"))
    val cps = docs.agg(max("doc_id").as("maxdoc"))
      .select(explode(expr("sequence(3, length(bin(maxdoc)) - 1)")).as("j"))
    val pts = cps
      .join(broadcast(termB), col("b") <= col("j"))
      .groupBy("j").agg(sum("vterms").as("v"))
      .join(cps.join(broadcast(docB), col("b") <= col("j"))
        .groupBy("j").agg(sum("ndocs").as("n")), "j")
      .select(col("j"), log(col("n").cast("double")).as("lx"),
        log(col("v").cast("double")).as("ly"))
    // OLS sums as j-ORDERED folds (sort_array + aggregate ≡ DuckDB
    // list_sum over list(ORDER BY j)) — a plain avg() here would sum
    // partials in partition-merge order, which is not cross-engine
    // (or run-to-run) stable for floats
    pts.agg(sort_array(collect_list(struct(col("j"), col("lx"), col("ly"))))
        .as("a"))
      .select(size(col("a")).cast("long").as("n"),
        expr("aggregate(a, 0D, (acc, s) -> acc + s.lx)").as("slx"),
        expr("aggregate(a, 0D, (acc, s) -> acc + s.ly)").as("sly"),
        expr("aggregate(a, 0D, (acc, s) -> acc + s.lx * s.ly)").as("slxly"),
        expr("aggregate(a, 0D, (acc, s) -> acc + s.lx * s.lx)").as("slxlx"))
      .select(col("n").as("n_checkpoints"),
        round(try_divide(col("n") * col("slxly") - col("slx") * col("sly"),
          col("n") * col("slxlx") - col("slx") * col("slx")), 6).as("beta"),
        round((col("sly") -
          try_divide(col("n") * col("slxly") - col("slx") * col("sly"),
            col("n") * col("slxlx") - col("slx") * col("slx")) * col("slx"))
          / col("n"), 6).as("intercept"))
  }

  val heapsFitSql: String = {
    import graft.text.TextFunctions.tokensSql
    s"""WITH first AS (SELECT t AS term, min(doc_id) AS fid
       |  FROM (SELECT doc_id, unnest(${tokensSql("lower(text)")}) AS t
       |        FROM documents) x
       |  WHERE t <> '' GROUP BY t),
       |termb AS (SELECT CASE WHEN fid <= 1 THEN 0
       |    ELSE length(bin(fid - 1)) END AS b, count(*) AS vterms
       |  FROM first GROUP BY 1),
       |docb AS (SELECT CASE WHEN doc_id <= 1 THEN 0
       |    ELSE length(bin(doc_id - 1)) END AS b, count(*) AS ndocs
       |  FROM documents GROUP BY 1),
       |cps AS (SELECT unnest(generate_series(3,
       |    length(bin((SELECT max(doc_id) FROM documents)::BIGINT)) - 1))
       |    AS j),
       |pts AS (SELECT n.j AS j, ln(CAST(n.n AS DOUBLE)) AS lx,
       |    ln(CAST(v.v AS DOUBLE)) AS ly
       |  FROM (SELECT j, CAST(sum(vterms) AS BIGINT) AS v
       |        FROM cps JOIN termb ON termb.b <= cps.j GROUP BY j) v
       |  JOIN (SELECT j, CAST(sum(ndocs) AS BIGINT) AS n
       |        FROM cps JOIN docb ON docb.b <= cps.j GROUP BY j) n
       |  ON v.j = n.j),
       |sums AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    list_sum(list(lx ORDER BY j)) AS slx,
       |    list_sum(list(ly ORDER BY j)) AS sly,
       |    list_sum(list(lx * ly ORDER BY j)) AS slxly,
       |    list_sum(list(lx * lx ORDER BY j)) AS slxlx
       |  FROM pts)
       |SELECT n AS n_checkpoints,
       |  round((n * slxly - slx * sly) / (n * slxlx - slx * slx), 6)
       |    AS beta,
       |  round((sly - (n * slxly - slx * sly) / (n * slxlx - slx * slx)
       |    * slx) / n, 6) AS intercept
       |FROM sums""".stripMargin
  }
  /** §2.304 `bpe_fertility`: per-language fertility of the learned
    * §2.90 BPE tokenizer — symbols emitted per whitespace word and
    * per 100 characters, plus the share of words the merge table
    * compresses to a SINGLE symbol. THE number a tokenizer team
    * quotes per language (fertility ≫ 1 on a language means its text
    * pays more sequence positions per word — the compression-equity
    * lens on the §2.89/90/121 induction loop, and the reason
    * production vocabularies are rebalanced across languages).
    *
    * Scale shape: the §2.121 vocab-fold trick — merges replay over
    * the DISTINCT-token table only; the corpus token stream joins the
    * vocab-sized dict once (per-token symbol counts precomputed), and
    * the language rollup is ONE map-side-combined groupBy to a
    * |langs|-bounded frame.
    *
    * Determinism: symbol counts are integers from the deterministic
    * §2.89 fold (ties: count desc, pair asc); all aggregates are
    * exact BIGINTs; the three ratios are single fixed-sequence
    * divisions of identical integers. */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), explode(tokens(normalize(col("text")))).as("tok"))
    val (_, syms) = learnAndFold(bpeTokenCounts(spark, dir), foldLast = true)
    val dict = syms.select(col("tok"), size(col("symbols")).cast("long").as("n_syms"))
    toks.join(dict, Seq("tok"), "left")
      .withColumn("n_syms", coalesce(col("n_syms"), length(col("tok")).cast("long")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("tok"))).cast("long").as("n_chars"),
        sum(col("n_syms")).as("n_symbols"),
        sum(when(col("n_syms") === 1L, 1L).otherwise(0L)).as("n_single"))
      .select(col("lang"), col("n_words"), col("n_chars"), col("n_symbols"),
        round(col("n_symbols").cast("double") / col("n_words"), 6)
          .as("fertility"),
        round(col("n_symbols").cast("double") * 100 / col("n_chars"), 6)
          .as("syms_per_100ch"),
        round(col("n_single").cast("double") / col("n_words"), 6)
          .as("single_sym_share"))
      .orderBy("lang")
  }

  val bpeFertilitySql: String =
    s"""WITH RECURSIVE $bpeChainSql,
       |dict AS (
       |  SELECT tok, CAST(len(symbols) AS BIGINT) AS n_syms
       |  FROM syms_$BpeRounds),
       |dtoks AS (SELECT lang, unnest(${tokensSql(normalizeSql("text"))})
       |    AS tok
       |  FROM documents),
       |j AS (SELECT lang, tok,
       |    coalesce(n_syms, length(tok)) AS n_syms
       |  FROM dtoks LEFT JOIN dict USING (tok))
       |SELECT lang, count(*) AS n_words,
       |  CAST(sum(length(tok)) AS BIGINT) AS n_chars,
       |  CAST(sum(n_syms) AS BIGINT) AS n_symbols,
       |  round(CAST(sum(n_syms) AS BIGINT) / CAST(count(*) AS DOUBLE), 6)
       |    AS fertility,
       |  round(CAST(sum(n_syms) AS BIGINT) * 100 / CAST(sum(length(tok))
       |    AS DOUBLE), 6) AS syms_per_100ch,
       |  round(CAST(sum(CASE WHEN n_syms = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    / CAST(count(*) AS DOUBLE), 6) AS single_sym_share
       |FROM j GROUP BY lang ORDER BY lang""".stripMargin
}
