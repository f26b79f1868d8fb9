package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** URL/host-grain crawl ops — SURVEY.md §2.329 (`url_canonicalize`)
  * and §2.330 (`host_quality`).
  *
  * Real corpus construction starts at URLs, not documents: the crawl
  * frontier dedups on CANONICAL urls (scheme/host case, default
  * ports, tracking params, fragments and index pages all denote the
  * same resource), and the C4/RefinedWeb-style quality loop filters
  * at HOST grain (a domain whose pages are mostly near-duplicates or
  * low quality is dropped wholesale). The driver corpus carries no
  * URL column, so both engines first SYNTHESIZE a deterministic messy
  * URL per document from (source, lang, doc_id) — case-mixed scheme
  * and host, www prefixes, default and explicit ports, duplicate
  * slashes, index.html suffixes, trailing slashes, out-of-order and
  * utm_* tracking query params, fragments — and the operator then
  * PARSES and canonicalizes that raw string exactly as it would a
  * crawl's url column. The synthesis is part of the fixture, the
  * parse+canonicalize is the operator under test.
  *
  * Everything is codegen'd built-ins (regexp_extract/replace over
  * RE2-safe patterns, split + higher-order filter/sort over the tiny
  * per-row param list) — no UDFs, one scan, zero shuffle for
  * §2.329; §2.330 adds the §2.39 label chain (cached / persisted
  * table, the §2.320 once-per-crawl shape) and two bounded groupBys.
  */
object Urls {

  /** Deterministic raw-URL synthesis: every branch keys on doc_id
    * residues so the mess is reproducible in both engines. */
  private def urlRaw: Column = {
    val m3 = col("doc_id") % 3
    val m4 = col("doc_id") % 4
    val m5 = col("doc_id") % 5
    val m6 = col("doc_id") % 6
    val m8 = col("doc_id") % 8
    val m9 = col("doc_id") % 9
    val hostbase = concat(col("source"), lit(".example.com"))
    val scheme = when(m3 === 1, lit("HTTPS"))
      .when(m3 === 2, lit("hTtp")).otherwise(lit("http"))
    val host = when(m4 === 0, concat(lit("WWW."), upper(hostbase)))
      .when(m4 === 1, concat(lit("www."), hostbase))
      .when(m4 === 2, upper(hostbase))
      .otherwise(hostbase)
    val port = when(m5 === 0, when(m3 === 1, lit(":443")).otherwise(lit(":80")))
      .when(m5 === 1, lit(":8080")).otherwise(lit(""))
    val pathbase = concat(lit("/docs/"), col("lang"), lit("/"),
      col("doc_id").cast("string"))
    val path = when(m6 === 0, concat(pathbase, lit("/index.html")))
      .when(m6 === 1, concat(pathbase, lit("/")))
      .when(m6 === 2, concat(lit("/"), pathbase))
      .otherwise(pathbase)
    val query = when(m8 === 0, lit("b=2&a=1"))
      .when(m8 === 1, lit("utm_source=feed&b=2&a=1"))
      .when(m8 === 2, concat(lit("a=1&utm_campaign=c"), m3.cast("string")))
      .when(m8 === 3, lit("a=1&b=2"))
      .otherwise(lit(""))
    val frag = when(m9 === 0, concat(lit("#sec"), m3.cast("string")))
      .otherwise(lit(""))
    concat(scheme, lit("://"), host, port, path,
      when(query =!= "", concat(lit("?"), query)).otherwise(lit("")), frag)
  }

  private val urlRawSql: String =
    """(CASE doc_id % 3 WHEN 1 THEN 'HTTPS' WHEN 2 THEN 'hTtp' ELSE 'http' END
      | || '://'
      | || (CASE doc_id % 4
      |      WHEN 0 THEN 'WWW.' || upper(source || '.example.com')
      |      WHEN 1 THEN 'www.' || (source || '.example.com')
      |      WHEN 2 THEN upper(source || '.example.com')
      |      ELSE source || '.example.com' END)
      | || (CASE doc_id % 5
      |      WHEN 0 THEN (CASE WHEN doc_id % 3 = 1 THEN ':443' ELSE ':80' END)
      |      WHEN 1 THEN ':8080' ELSE '' END)
      | || (CASE doc_id % 6
      |      WHEN 0 THEN '/docs/' || lang || '/' || CAST(doc_id AS VARCHAR) || '/index.html'
      |      WHEN 1 THEN '/docs/' || lang || '/' || CAST(doc_id AS VARCHAR) || '/'
      |      WHEN 2 THEN '//docs/' || lang || '/' || CAST(doc_id AS VARCHAR)
      |      ELSE '/docs/' || lang || '/' || CAST(doc_id AS VARCHAR) END)
      | || (CASE doc_id % 8
      |      WHEN 0 THEN '?b=2&a=1'
      |      WHEN 1 THEN '?utm_source=feed&b=2&a=1'
      |      WHEN 2 THEN '?a=1&utm_campaign=c' || CAST(doc_id % 3 AS VARCHAR)
      |      WHEN 3 THEN '?a=1&b=2' ELSE '' END)
      | || (CASE WHEN doc_id % 9 = 0
      |      THEN '#sec' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END))"""
      .stripMargin.replace("\n", " ")

  /** Parse + canonicalize a URL string column. Rules (each standard
    * crawl-frontier normalization): lowercase scheme and host; strip
    * a leading `www.`; drop default ports (80/http, 443/https) but
    * keep explicit non-default ones; collapse duplicate slashes in
    * the path; drop a trailing `/index.html` and trailing slashes
    * (empty path → `/`); drop the fragment; drop `utm_`-prefixed
    * tracking params; sort surviving query params bytewise. */
  private def canonCols(url: Column): (Column, Column) = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z]+)://", 1))
    val hostport = regexp_extract(url, "^[A-Za-z]+://([^/?#]+)", 1)
    val host = regexp_replace(
      lower(get(split(hostport, ":"), lit(0))), "^www\\.", "")
    val port = coalesce(get(split(hostport, ":"), lit(1)), lit(""))
    val portC = when(port === "" ||
        (scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    val path = regexp_extract(url, "^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    val p1 = regexp_replace(path, "/{2,}", "/")
    val p2 = rtrim(regexp_replace(p1, "/index\\.html$", ""), "/")
    val pathC = when(p2 === "", lit("/")).otherwise(p2)
    val query = regexp_extract(url, "\\?([^#]*)", 1)
    // compiled filter+sort+join (PlanGate r11: the filter lambda ran
    // interpreted per URL in the corpus scan); same semantics — drop
    // empties and utm_*, UTF8-binary sort, '&'-join
    val queryC = graft.functions.native.canonical_query(query)
    val canon = concat(scheme, lit("://"), host, portC, pathC,
      when(queryC =!= "", concat(lit("?"), queryC)).otherwise(lit("")))
    (canon, host)
  }

  /** DuckDB rendering of [[canonCols]] over url expression `u` —
    * identical rule set; RE2 patterns kept to the Java-compatible
    * subset so both regex engines agree. */
  private def canonSql(u: String): (String, String) = {
    val scheme = s"lower(regexp_extract($u, '^([A-Za-z]+)://', 1))"
    val hostport = s"regexp_extract($u, '^[A-Za-z]+://([^/?#]+)', 1)"
    val host =
      s"regexp_replace(lower(string_split($hostport, ':')[1]), '^www\\.', '')"
    val port = s"coalesce(string_split($hostport, ':')[2], '')"
    val portC =
      s"""(CASE WHEN $port = '' OR ($scheme = 'http' AND $port = '80')
         |  OR ($scheme = 'https' AND $port = '443') THEN ''
         |  ELSE ':' || $port END)""".stripMargin.replace("\n", " ")
    val path = s"regexp_extract($u, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1)"
    val p2 = s"rtrim(regexp_replace(regexp_replace($path, '/{2,}', '/', 'g')," +
      s" '/index\\.html$$', ''), '/')"
    val pathC = s"(CASE WHEN $p2 = '' THEN '/' ELSE $p2 END)"
    val queryC = s"array_to_string(list_sort(list_filter(" +
      s"string_split(regexp_extract($u, '\\?([^#]*)', 1), '&'), " +
      s"x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&')"
    val canon = s"($scheme || '://' || $host || $portC || $pathC || " +
      s"(CASE WHEN $queryC <> '' THEN '?' || $queryC ELSE '' END))"
    (canon, host)
  }

  /** Canonicalization exposed column-wise (spec hook: idempotence —
    * canonicalizing a canonical URL must be the identity). */
  private[graft] def canonicalize(url: Column): Column = canonCols(url)._1

  /** Shared (doc_id, url_raw, url_canon, host) frame. */
  private[graft] def urlFrame(docs: DataFrame): DataFrame = {
    val withRaw = docs.select(col("doc_id"), col("source"), col("lang"))
      .withColumn("url_raw", urlRaw)
    val (canon, host) = canonCols(col("url_raw"))
    withRaw.select(col("doc_id"), col("url_raw"),
      canon.as("url_canon"), host.as("host"))
  }

  private[graft] val urlFrameSql: String = {
    val (canon, host) = canonSql("url_raw")
    s"""SELECT doc_id, url_raw, $canon AS url_canon, $host AS host
       |FROM (SELECT doc_id, $urlRawSql AS url_raw FROM documents) raw_urls"""
      .stripMargin
  }

  /** §2.329 `url_canonicalize`: per-document raw → canonical URL +
    * host. One scan, zero shuffle (row-local string work); the final
    * orderBy is oracle determinism only. */
  def urlCanonicalize(spark: SparkSession, dir: String): DataFrame =
    urlFrame(Tables.documents(spark, dir)).orderBy("doc_id")

  val urlCanonicalizeSql: String =
    s"""SELECT doc_id, url_raw, url_canon, host
       |FROM ($urlFrameSql) t ORDER BY doc_id""".stripMargin

  /** §2.330 `host_quality`: the C4-style per-domain filter input —
    * per canonical host: docs, near-duplicate members (§2.39 MinHash
    * cluster size ≥ 2 — the signal that actually fires on this
    * corpus; exact dups are zero at the oracle SF), dup fraction,
    * mean §2.29 quality score, and two integer-compared flags:
    * `above_avg_dup` (host dup rate strictly above the corpus mean —
    * the median-ish split) and `keep` (dup rate ≤ 2× corpus mean —
    * the wholesale-drop rule). All comparisons are integer
    * cross-multiplications and the quality mean rides the §2.268
    * exact micro-unit integers, so no float boundary exists for the
    * oracle to disagree on.
    *
    * Scale shape: labels are the §2.39 star labels memoized once per
    * session, or the persisted §2.320 table; the host decoration is the
    * zero-shuffle §2.329 frame; everything after doc grain is two
    * host-bounded groupBys plus a 1-row corpus-total broadcast. */
  def hostQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val hosts = urlFrame(docs).select("doc_id", "host")
    val labels = graft.pipeline.Pipeline.dedupClustersCached(spark, dir)
      .select("doc_id", "cluster_id")
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
    val dup = labels.join(sizes, "cluster_id")
      .select(col("doc_id"), (col("sz") >= 2).cast("long").as("is_dup"))
    val q = graft.text.TextQueries.textQuality(spark, dir)
      .select(col("doc_id"),
        round(col("quality_score") * 1e6, 0).cast("long").as("q6"))
    val per = hosts.join(dup, "doc_id").join(q, "doc_id")
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"), sum("is_dup").as("n_dup_docs"),
        sum("q6").as("sq6"))
    val tot = per.agg(sum("n_docs").as("t_docs"), sum("n_dup_docs").as("t_dup"))
    per.crossJoin(broadcast(tot))
      .select(col("host"), col("n_docs"), col("n_dup_docs"),
        round(col("n_dup_docs").cast("double") / col("n_docs"), 6)
          .as("dup_frac"),
        round(col("sq6").cast("double") / col("n_docs") / 1e6, 6)
          .as("mean_quality"),
        (col("n_dup_docs") * col("t_docs") > col("t_dup") * col("n_docs"))
          .as("above_avg_dup"),
        (col("n_dup_docs") * col("t_docs") <= lit(2L) * col("t_dup") * col("n_docs"))
          .as("keep"))
      .orderBy("host")
  }

  val hostQualitySql: String =
    s"""WITH hosts AS (SELECT doc_id, host FROM ($urlFrameSql) t),
       |c AS (SELECT doc_id, cluster_id
       |  FROM (${graft.pipeline.Pipeline.dedupClustersSql}) t),
       |sizes AS (SELECT cluster_id, count(*) AS sz FROM c GROUP BY 1),
       |dup AS (SELECT c.doc_id,
       |    CASE WHEN s.sz >= 2 THEN 1 ELSE 0 END AS is_dup
       |  FROM c JOIN sizes s ON c.cluster_id = s.cluster_id),
       |q AS (SELECT doc_id,
       |    CAST(round(quality_score * 1e6, 0) AS BIGINT) AS q6
       |  FROM (${graft.text.TextQueries.textQualitySql}) t),
       |per AS (SELECT h.host, count(*) AS n_docs,
       |    CAST(sum(d.is_dup) AS BIGINT) AS n_dup_docs,
       |    CAST(sum(q.q6) AS BIGINT) AS sq6
       |  FROM hosts h JOIN dup d ON h.doc_id = d.doc_id
       |  JOIN q ON h.doc_id = q.doc_id
       |  GROUP BY h.host),
       |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
       |    CAST(sum(n_dup_docs) AS BIGINT) AS t_dup FROM per)
       |SELECT host, n_docs, n_dup_docs,
       |  round(CAST(n_dup_docs AS DOUBLE) / n_docs, 6) AS dup_frac,
       |  round(CAST(sq6 AS DOUBLE) / n_docs / 1e6, 6) AS mean_quality,
       |  n_dup_docs * t_docs > t_dup * n_docs AS above_avg_dup,
       |  n_dup_docs * t_docs <= 2 * t_dup * n_docs AS keep
       |FROM per CROSS JOIN tot ORDER BY host""".stripMargin

  /** §2.357 `dedup_url`: canonical-URL exact dedup — the crawl-
    * frontier dedup that runs BEFORE any content fetch/hash (two
    * fetches of the same resource are the cheapest duplicates to
    * kill). Same verdict shape as §2.21's content dedup (canonical =
    * min doc_id per canonical URL) so the two compose into the
    * standard "URL-dedup then content-dedup" cascade.
    *
    * Scale shape: the §2.329 canonical projection is row-local; the
    * only shuffle is one url_canon window — hash-partitioned by the
    * dedup key, the same one-exchange plan as exactDedup's
    * content_hash window. */
  def dedupUrl(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("url_canon")
    urlFrame(Tables.documents(spark, dir))
      .select(col("doc_id"), col("url_canon"))
      .withColumn("canonical_id", min("doc_id").over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .select(col("doc_id"), col("url_canon"), col("canonical_id"),
        col("group_size"), (col("doc_id") =!= col("canonical_id")).as("is_duplicate"))
      .orderBy("doc_id")
  }

  val dedupUrlSql: String =
    s"""WITH u AS (SELECT doc_id, url_canon FROM ($urlFrameSql) t),
       |canon AS (SELECT url_canon, min(doc_id) AS canonical_id,
       |    count(*) AS group_size FROM u GROUP BY 1)
       |SELECT u.doc_id, u.url_canon, c.canonical_id, c.group_size,
       |  u.doc_id != c.canonical_id AS is_duplicate
       |FROM u JOIN canon c ON u.url_canon = c.url_canon
       |ORDER BY u.doc_id""".stripMargin
}
