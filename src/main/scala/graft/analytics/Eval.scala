package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Offline evaluation metrics for the corpus-quality and recommendation
  * models the pipeline trains — SURVEY.md §2 items 203–205.
  *
  * The reference validates data with fixed rules; a trained gate
  * (§2.180's classifier, §2.96's quality weights) additionally needs
  * *metric* queries that say how good the scores are. These are the
  * three standard ones — ROC-AUC, WOE/IV, NDCG@k — each expressed so
  * the data-proportional work is ONE map-side-combined pass and the
  * metric arithmetic runs over a bounded cell frame (score grid,
  * feature×bin grid, user×k candidates), never the corpus.
  */
object Eval {

  /** §2.203 distributed ROC-AUC of the §2.29 quality score as an
    * English-document classifier, via the rank-sum (Mann–Whitney U)
    * identity: AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻) where R⁺ is the sum
    * of positive ranks (ties → average rank).
    *
    * The scale shape: an exact AUC needs a global ranking, which at
    * 100 TB is a global sort — unless the score is gridded. Rounding
    * the score to 4 dp bounds the distinct-cell count at ≤10⁴
    * whatever the corpus size, so ONE map-side-combined groupBy
    * collapses the corpus to (score, n_pos, n_neg) cells and the rank
    * arithmetic is a window over the bounded cell frame (the
    * single-partition window is over ≤10⁴ rows — the §2.171 zipf_fit
    * pattern, not a data-sized sort).
    *
    * Cross-engine determinism: ranks with ties are half-integers, so
    * everything is carried as 2× the rank sum — pure BIGINT arithmetic
    * (2·R⁺ = Σ n⁺(s)·(2·cum_below(s) + n(s) + 1)) until the single
    * final division; both engines divide the identical integers. */
  def aucEval(spark: SparkSession, dir: String): DataFrame = {
    // 4 dp regrid via INTEGER product rounding, not round(x, 4):
    // decimal-scale rounding of an already-6 dp double lands exactly
    // on .5 boundaries where the engines disagree (§2.224 — Spark
    // rounds the shortest decimal string, DuckDB the binary value;
    // 0.69405 → 0.6941 vs 0.694, two docs at sf0.01). round(x·10⁴)
    // evaluates the SAME product double on both engines, where the
    // string/binary views can no longer differ about the half.
    val f = graft.text.TextQueries.qualityFrame(Tables.documents(spark, dir))
      .select((round(col("quality_score") * 10000) / 10000.0).as("s"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val cells = f.groupBy("s").agg(
      sum("y").as("np"), (count(lit(1)) - sum(col("y"))).as("nn"))
    // bounded-cell window: ≤10^4 rows by construction (4 dp grid)
    val w = Window.orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = cells
      .withColumn("cum",
        sum(col("np") + col("nn")).over(w) - (col("np") + col("nn")))
      .withColumn("rs2",
        col("np") * (col("cum") * 2 + col("np") + col("nn") + 1))
    ranked.agg(
      sum("np").as("n_pos"), sum("nn").as("n_neg"), sum("rs2").as("rs2"))
      .select(col("n_pos"), col("n_neg"),
        round(try_divide((col("rs2") - col("n_pos") * (col("n_pos") + 1))
          .cast("double"),
          (col("n_pos") * col("n_neg") * 2).cast("double")), 6).as("auc"))
      .withColumn("gini", round(col("auc") * 2 - 1, 6))
  }

  val aucEvalSql: String = {
    import graft.text.TextQueries.stopListSql
    s"""WITH f AS (SELECT
       |    round(round(0.4 * (length(regexp_replace(text, '[^a-z]', '', 'g')) / length(text))
       |      + 0.4 * (1.0 - abs(len(list_filter(_toks, t -> t IN ($stopListSql))) / n_tokens - 0.3))
       |      + 0.2 * least(1.0, n_tokens / 100.0), 6) * 10000) / 10000.0 AS s,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM (SELECT lang, text, string_split_regex(trim(text), '\\s+') AS _toks,
       |          CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS n_tokens
       |        FROM documents) t),
       |cells AS (SELECT s, CAST(sum(y) AS BIGINT) AS np,
       |    CAST(count(*) - sum(y) AS BIGINT) AS nn
       |  FROM f GROUP BY s),
       |ranked AS (SELECT np, nn,
       |    CAST(sum(np + nn) OVER (ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      - (np + nn) AS BIGINT) AS cum
       |  FROM cells),
       |agg AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
       |    CAST(sum(nn) AS BIGINT) AS n_neg,
       |    CAST(sum(np * (cum * 2 + np + nn + 1)) AS BIGINT) AS rs2
       |  FROM ranked)
       |SELECT n_pos, n_neg, auc, round(auc * 2 - 1, 6) AS gini
       |FROM (SELECT n_pos, n_neg,
       |    round(CAST(rs2 - n_pos * (n_pos + 1) AS DOUBLE)
       |      / CAST(n_pos * n_neg * 2 AS DOUBLE), 6) AS auc
       |  FROM agg) x""".stripMargin
  }

  /** §2.204 weight-of-evidence / information-value table: the §2.180
    * classifier's three features (alpha ratio, stopword ratio, length
    * score) binned to a fixed decile grid, each bin scored with
    * WOE = ln(pos_share / neg_share) (0.5-per-bin Laplace smoothing so
    * empty-class bins stay finite) and its IV contribution — the
    * standard credit-scoring feature-predictiveness report, here
    * answering "which cheap signal separates English docs best".
    *
    * Scale shape: the three features unpivot in the SAME scan
    * (3× row multiplier on the doc-grain frame, not the text), then
    * ONE map-side-combined groupBy to ≤ 3×10 cells; totals and the
    * per-feature IV are windows over those 30 rows. Fixed-width bins,
    * not quantiles — no pre-pass, and the bin edges are stable across
    * corpus growth (a drift-friendly property quantile bins lack).
    *
    * Determinism: bin counts are exact integers; shares are single
    * IEEE divisions of identical integers; WOE's ln is rounded at 6 dp
    * (the §2.160 pattern), and each IV term is rounded before the
    * ≤10-term feature sum. */
  def woeIv(spark: SparkSession, dir: String): DataFrame = {
    val f = graft.text.TextQueries.qualityFrame(Tables.documents(spark, dir))
      .select(
        when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        round(col("_alpha"), 6).as("alpha"),
        round(col("_stop"), 6).as("stop"),
        round(least(lit(1.0), col("n_tokens").cast("double") / 100.0), 6)
          .as("len"))
      .select(col("y"), expr(
        "stack(3, 'alpha', alpha, 'stop', stop, 'len', len) AS (feature, x)"))
      .withColumn("bin",
        least(floor(col("x") * 10), lit(9L)).cast("int"))
    val cells = f.groupBy("feature", "bin").agg(
      sum("y").as("np"), (count(lit(1)) - sum(col("y"))).as("nn"))
    val wf = Window.partitionBy("feature")
    val shares = cells
      .withColumn("ps", (col("np").cast("double") + 0.5) /
        (sum("np").over(wf).cast("double") + 5.0))
      .withColumn("ns", (col("nn").cast("double") + 0.5) /
        (sum("nn").over(wf).cast("double") + 5.0))
      .withColumn("woe", round(log(col("ps") / col("ns")), 6))
      .withColumn("iv_term", round((col("ps") - col("ns")) * col("woe"), 6))
    shares
      .withColumn("iv_feature", round(sum("iv_term").over(wf), 6))
      .select("feature", "bin", "np", "nn", "woe", "iv_term", "iv_feature")
      .orderBy("feature", "bin")
  }

  val woeIvSql: String = {
    import graft.text.TextQueries.stopListSql
    s"""WITH base AS (SELECT
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
       |    round(length(regexp_replace(text, '[^a-z]', '', 'g')) / length(text), 6) AS alpha,
       |    round(len(list_filter(_toks, t -> t IN ($stopListSql))) / n_tokens, 6) AS stop,
       |    round(least(1.0, n_tokens / 100.0), 6) AS len
       |  FROM (SELECT lang, text, string_split_regex(trim(text), '\\s+') AS _toks,
       |          CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS n_tokens
       |        FROM documents) t),
       |f AS (SELECT y, u.feature, u.x FROM base,
       |    LATERAL (SELECT unnest(['alpha', 'stop', 'len']) AS feature,
       |             unnest([alpha, stop, len]) AS x) u),
       |binned AS (SELECT feature,
       |    CAST(least(floor(x * 10), 9) AS INTEGER) AS bin, y FROM f),
       |cells AS (SELECT feature, bin, CAST(sum(y) AS BIGINT) AS np,
       |    CAST(count(*) - sum(y) AS BIGINT) AS nn
       |  FROM binned GROUP BY 1, 2),
       |shares AS (SELECT feature, bin, np, nn,
       |    (CAST(np AS DOUBLE) + 0.5)
       |      / (CAST(sum(np) OVER (PARTITION BY feature) AS DOUBLE) + 5.0) AS ps,
       |    (CAST(nn AS DOUBLE) + 0.5)
       |      / (CAST(sum(nn) OVER (PARTITION BY feature) AS DOUBLE) + 5.0) AS ns
       |  FROM cells),
       |woe AS (SELECT feature, bin, np, nn,
       |    round(ln(ps / ns), 6) AS woe,
       |    round((ps - ns) * round(ln(ps / ns), 6), 6) AS iv_term
       |  FROM shares)
       |SELECT feature, bin, np, nn, woe, iv_term,
       |  round(sum(iv_term) OVER (PARTITION BY feature), 6) AS iv_feature
       |FROM woe ORDER BY feature, bin""".stripMargin
  }

  /** Cumulative ideal-DCG lookup: idcg(L) = Σ_{i=1..L} round(1/log₂(i+1), 6)
    * — precomputed once and inlined as the SAME literals in both
    * engines, so the ideal normalizer is bit-identical by fiat. */
  private[graft] val IdcgCum: IndexedSeq[Double] = {
    val terms = (1 to 10).map(i =>
      math.rint(1e6 / (math.log(i + 1.0) / math.log(2.0))) / 1e6)
    terms.scanLeft(0.0)(_ + _).tail.map(v => math.rint(v * 1e6) / 1e6)
  }

  /** §2.205 NDCG@10 of a popularity recommender: for each user, the
    * items they VIEWED ranked by global click popularity (the zero-
    * parameter baseline every recsys eval starts from), scored against
    * the items they actually PURCHASED. Per user: DCG over the top-10
    * of that ranking (gain 1/log₂(rank+1) on hits), normalized by the
    * ideal DCG for their relevant-count — the offline ranking-quality
    * harness (the §2.172 "judge of the judge" pattern, for rankers).
    *
    * Scale shape: candidates collapse to the distinct user×item view
    * grain (ONE corpus scan + distinct); popularity is an item-grain
    * aggregate BROADCAST onto it (items ≪ events); the rank window
    * partitions by user and WindowGroupLimit prunes to rank ≤ 10
    * before anything downstream; relevance is a user×item-grain left
    * join on the co-partitioned key. Nothing after the first distinct
    * is event-proportional. Users with no purchased-and-viewed item
    * have IDCG = 0 and are excluded (standard practice: NDCG is
    * undefined at zero relevance).
    *
    * Determinism: ranks are integers with a total (pop DESC, item ASC)
    * tie-break; each DCG addend is rounded to 6 dp before the ≤10-term
    * sum (the §2.149 per-addend-rounding pattern); IDCG values are
    * shared literals ([[IdcgCum]]). */
  def ndcgEval(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("bigint").as("item"))
      .filter(col("item").isNotNull)
    val views = ev.filter(col("event_type") === "view")
      .select("user_id", "item").distinct()
    val pop = ev.filter(col("event_type") === "click")
      .groupBy("item").agg(count(lit(1)).as("pop"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select("user_id", "item").distinct()
      .withColumn("rel", lit(1L))
    val w = Window.partitionBy("user_id")
      .orderBy(col("pop").desc, col("item").asc)
    val ranked = views
      .join(broadcast(pop), Seq("item"), "left")
      .na.fill(0L, Seq("pop"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .join(purch, Seq("user_id", "item"), "left")
      .na.fill(0L, Seq("rel"))
    val idcgExpr = element_at(
      array(IdcgCum.map(lit): _*), least(col("n_rel"), lit(10L)).cast("int"))
    ranked.groupBy("user_id").agg(
      sum("rel").as("n_rel"),
      round(sum(round(col("rel").cast("double") /
        log2(col("rn") + 1), 6)), 6).as("dcg"))
      .filter(col("n_rel") > 0)
      .withColumn("idcg", idcgExpr)
      .withColumn("ndcg", round(col("dcg") / col("idcg"), 6))
      .select("user_id", "n_rel", "dcg", "idcg", "ndcg")
      .orderBy("user_id")
  }

  val ndcgEvalSql: String = {
    val idcgList = IdcgCum.mkString("[", ", ", "]")
    s"""WITH ev AS (SELECT user_id, event_type,
       |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item
       |  FROM events WHERE json_extract_string(props, '$$.k') IS NOT NULL),
       |views AS (SELECT DISTINCT user_id, item FROM ev WHERE event_type = 'view'),
       |pop AS (SELECT item, count(*) AS pop FROM ev
       |  WHERE event_type = 'click' GROUP BY 1),
       |purch AS (SELECT DISTINCT user_id, item FROM ev
       |  WHERE event_type = 'purchase'),
       |ranked AS (SELECT v.user_id, v.item,
       |    row_number() OVER (PARTITION BY v.user_id
       |      ORDER BY coalesce(p.pop, 0) DESC, v.item ASC) AS rn
       |  FROM views v LEFT JOIN pop p USING (item)),
       |top10 AS (SELECT r.user_id, r.rn,
       |    CASE WHEN pu.item IS NOT NULL THEN 1 ELSE 0 END AS rel
       |  FROM ranked r LEFT JOIN purch pu
       |    ON pu.user_id = r.user_id AND pu.item = r.item
       |  WHERE r.rn <= 10),
       |per_user AS (SELECT user_id, CAST(sum(rel) AS BIGINT) AS n_rel,
       |    round(sum(round(CAST(rel AS DOUBLE) / log2(rn + 1), 6)), 6) AS dcg
       |  FROM top10 GROUP BY 1 HAVING sum(rel) > 0)
       |SELECT user_id, n_rel, dcg,
       |  $idcgList[CAST(least(n_rel, 10) AS INTEGER)] AS idcg,
       |  round(dcg / $idcgList[CAST(least(n_rel, 10) AS INTEGER)], 6) AS ndcg
       |FROM per_user ORDER BY user_id""".stripMargin
  }

  /** §2.218 recommender coverage & exposure concentration
    * (`recommender_coverage`): what share of the catalog the §2.205
    * popularity recommender ever surfaces (coverage@10) and how
    * unequally it distributes exposure (Gini over per-item top-10
    * appearance counts, zero-exposure catalog items included) — the
    * two numbers that expose a recommender's filter-bubble/long-tail
    * problem before any user does. Same candidate machinery as
    * §2.205 (WindowGroupLimit-pruned rank-10); exposure is an
    * item-grain aggregate; the Gini rank-sum Σi·xᵢ is EXACT integer
    * arithmetic over the catalog-bounded frame (the §2.203 trick) —
    * two divisions at the end. */
  def recommenderCoverage(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("bigint").as("item"))
      .filter(col("item").isNotNull)
    val views = ev.filter(col("event_type") === "view")
      .select("user_id", "item").distinct()
    val pop = ev.filter(col("event_type") === "click")
      .groupBy("item").agg(count(lit(1)).as("pop"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("pop").desc, col("item").asc)
    val top10 = views
      .join(broadcast(pop), Seq("item"), "left")
      .na.fill(0L, Seq("pop"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
    val catalog = views.select("item").distinct()
    val exposure = catalog
      .join(top10.groupBy("item").agg(count(lit(1)).as("x")),
        Seq("item"), "left")
      .na.fill(0L, Seq("x"))
    // Gini rank sum WITHOUT a catalog-wide global sort (VERDICT r10:
    // row_number() over the whole catalog is a single-partition
    // WindowExec — a ceiling at a 10⁸-item catalog). The ranks i are
    // ordered by (x asc, item asc); items tied on x occupy a
    // CONTIGUOUS rank block [c+1, c+g] (c = items with smaller x,
    // g = block size), and within the block every item contributes the
    // same x, so Σ i·x over the block collapses to
    // x·(g·c + g(g+1)/2) — the item tiebreak affects which item gets
    // which rank but not the sum. The global window therefore only
    // needs the per-x GROUP frame (the auc_eval gridded-rank pattern):
    // groupBy(x) is map-side combined and its output is bounded by
    // |distinct exposure counts| ≤ max top-10 appearances, orders of
    // magnitude below catalog size.
    val byX = exposure.groupBy("x").agg(count(lit(1)).as("g"))
    val cumBefore = Window.orderBy(col("x").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byX
      .withColumn("c", coalesce(sum("g").over(cumBefore), lit(0L)))
    ranked.agg(
      sum("g").as("n_catalog"),
      sum(when(col("x") > 0, col("g")).otherwise(0L)).as("n_recommended"),
      sum(col("x") * col("g")).as("total_exposures"),
      sum(expr("x * (g * c + (g * (g + 1)) div 2)")).as("rank_sum"))
      .select(col("n_catalog"), col("n_recommended"),
        round(col("n_recommended").cast("double") / col("n_catalog"), 6)
          .as("coverage"),
        round((col("rank_sum") * 2).cast("double") /
          (col("n_catalog") * col("total_exposures")).cast("double") -
          (col("n_catalog") + 1).cast("double") /
          col("n_catalog").cast("double"), 6).as("gini"))
  }

  val recommenderCoverageSql: String =
    """WITH ev AS (SELECT user_id, event_type,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
      |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
      |views AS (SELECT DISTINCT user_id, item FROM ev WHERE event_type = 'view'),
      |pop AS (SELECT item, count(*) AS pop FROM ev
      |  WHERE event_type = 'click' GROUP BY 1),
      |top10 AS (SELECT user_id, item FROM (
      |    SELECT v.user_id, v.item,
      |      row_number() OVER (PARTITION BY v.user_id
      |        ORDER BY coalesce(p.pop, 0) DESC, v.item ASC) AS rn
      |    FROM views v LEFT JOIN pop p USING (item)) t
      |  WHERE rn <= 10),
      |catalog AS (SELECT DISTINCT item FROM views),
      |exposure AS (SELECT c.item,
      |    CAST(coalesce(e.x, 0) AS BIGINT) AS x
      |  FROM catalog c LEFT JOIN (SELECT item, count(*) AS x
      |    FROM top10 GROUP BY 1) e USING (item)),
      |ranked AS (SELECT x,
      |    row_number() OVER (ORDER BY x ASC, item ASC) AS i
      |  FROM exposure),
      |agg AS (SELECT count(*) AS n_catalog,
      |    CAST(sum(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_recommended,
      |    CAST(sum(x) AS BIGINT) AS total_exposures,
      |    CAST(sum(i * x) AS BIGINT) AS rank_sum
      |  FROM ranked)
      |SELECT n_catalog, n_recommended,
      |  round(CAST(n_recommended AS DOUBLE) / n_catalog, 6) AS coverage,
      |  round(CAST(rank_sum * 2 AS DOUBLE)
      |      / CAST(n_catalog * total_exposures AS DOUBLE)
      |    - CAST(n_catalog + 1 AS DOUBLE) / CAST(n_catalog AS DOUBLE), 6)
      |    AS gini
      |FROM agg""".stripMargin

  /** The fixed decision thresholds the PR sweep scores (the deploy
    * question is "what θ do we ship?" — a dense curve is the §2.203
    * AUC's job; the sweep prices each candidate cut). */
  val PrThresholds: Seq[Double] = (1 to 9).map(_ / 10.0)

  /** §2.224 `pr_curve`: precision / recall / F1 of the §2.29 quality
    * score as an English-document classifier at each θ in
    * [[PrThresholds]] — the operating-point companion to §2.203's
    * threshold-free AUC.
    *
    * Scale shape: the 6 dp score grid bounds the cell frame at ≤10⁶
    * rows whatever the corpus size; the threshold sweep is a cross
    * join over that bounded frame (never the corpus), collapsed by
    * one groupBy(θ). Counts stay BIGINT to the end; precision/recall/
    * F1 are fixed-sequence divisions of identical integers.
    *
    * Deliberately NOT re-gridded to 4 dp: re-rounding an already-6 dp
    * double lands exactly on .5 boundaries, where Spark (HALF_UP on
    * the shortest decimal string) and DuckDB (round of the binary
    * value) disagree — 0.69405 → 0.6941 vs 0.694 — which here could
    * flip a doc across a decision threshold. The 6 dp score itself is
    * bit-identical on both engines, so every s ≥ θ compare agrees. */
  def prCurve(spark: SparkSession, dir: String): DataFrame = {
    val f = graft.text.TextQueries.qualityFrame(Tables.documents(spark, dir))
      .select(col("quality_score").as("s"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val cells = f.groupBy("s").agg(
      sum("y").as("np"), (count(lit(1)) - sum(col("y"))).as("nn"))
    val grid = PrThresholds.map(t => s"(CAST($t AS DOUBLE))").mkString(",")
    val thresholds = spark.sql(s"SELECT * FROM VALUES $grid AS t(threshold)")
    cells.crossJoin(broadcast(thresholds))
      .groupBy("threshold").agg(
        sum(when(col("s") >= col("threshold"), col("np")).otherwise(0L))
          .as("tp"),
        sum(when(col("s") >= col("threshold"), col("nn")).otherwise(0L))
          .as("fp"),
        sum(when(col("s") < col("threshold"), col("np")).otherwise(0L))
          .as("fn"))
      .withColumn("precision", when(col("tp") + col("fp") > 0,
        round(col("tp").cast("double") / (col("tp") + col("fp")), 6))
        .otherwise(0.0))
      .withColumn("recall", when(col("tp") + col("fn") > 0,
        round(col("tp").cast("double") / (col("tp") + col("fn")), 6))
        .otherwise(0.0))
      .withColumn("f1", when(col("precision") + col("recall") > 0,
        round(lit(2.0) * col("precision") * col("recall") /
          (col("precision") + col("recall")), 6)).otherwise(0.0))
      .select("threshold", "tp", "fp", "fn", "precision", "recall", "f1")
      .orderBy("threshold")
  }

  val prCurveSql: String = {
    import graft.text.TextQueries.stopListSql
    val grid = PrThresholds.map(t => s"(CAST($t AS DOUBLE))").mkString(", ")
    s"""WITH f AS (SELECT
       |    round(0.4 * (length(regexp_replace(text, '[^a-z]', '', 'g')) / length(text))
       |      + 0.4 * (1.0 - abs(len(list_filter(_toks, t -> t IN ($stopListSql))) / n_tokens - 0.3))
       |      + 0.2 * least(1.0, n_tokens / 100.0), 6) AS s,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM (SELECT lang, text, string_split_regex(trim(text), '\\s+') AS _toks,
       |          CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS n_tokens
       |        FROM documents) t),
       |cells AS (SELECT s, CAST(sum(y) AS BIGINT) AS np,
       |    CAST(count(*) - sum(y) AS BIGINT) AS nn
       |  FROM f GROUP BY s),
       |sweep AS (SELECT g.threshold,
       |    CAST(sum(CASE WHEN s >= g.threshold THEN np ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(sum(CASE WHEN s >= g.threshold THEN nn ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN s < g.threshold THEN np ELSE 0 END) AS BIGINT) AS fn
       |  FROM cells CROSS JOIN (VALUES $grid) g(threshold)
       |  GROUP BY 1),
       |pr AS (SELECT threshold, tp, fp, fn,
       |    CASE WHEN tp + fp > 0
       |      THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6) ELSE 0.0 END
       |      AS precision,
       |    CASE WHEN tp + fn > 0
       |      THEN round(CAST(tp AS DOUBLE) / (tp + fn), 6) ELSE 0.0 END
       |      AS recall
       |  FROM sweep)
       |SELECT threshold, tp, fp, fn, precision, recall,
       |  CASE WHEN precision + recall > 0
       |    THEN round(2.0 * precision * recall / (precision + recall), 6)
       |    ELSE 0.0 END AS f1
       |FROM pr ORDER BY threshold""".stripMargin
  }

  /** Depth for [[rankOverlap]]. */
  val RoDepth = 20

  /** §2.235 `rank_overlap`: average overlap AO@20 (Fagin et al.'s
    * top-k rank-similarity) between the item ranking BY CLICKS and BY
    * PURCHASE REVENUE — the "does engagement predict monetization?"
    * report, and the guardrail for swapping ranking signals in a
    * recommender (AO ≈ 1 → the cheap signal is a safe proxy).
    * AO@k = (1/k)·Σ_{d≤k} |top_d(R₁) ∩ top_d(R₂)|/d.
    *
    * Scale shape: both rankings are catalog-bounded item aggregates
    * (map-side combined) topped by TakeOrderedAndProject into k-row
    * frames; the depth sweep is a k×k join of those two frames.
    * Overlaps are integers; each AO addend A_d/d is one division of
    * identical integers, and the ≤k-term mean rounds at 6 dp (the
    * §2.204 bounded-sum convention). Rank ties break on item id. */
  def rankOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("item", get_json_object(col("props"), "$.k"))
      .filter(col("item").isNotNull)
    def top(df: DataFrame, metric: Column, asName: String): DataFrame = {
      val agg = df.groupBy("item").agg(metric.as("m"))
      agg.orderBy(col("m").desc, col("item")).limit(RoDepth)
        .withColumn(asName, row_number().over(
          Window.orderBy(col("m").desc, col("item"))))
        .select(col("item"), col(asName))
    }
    val r1 = top(ev.filter(col("event_type") === "click"),
      count(lit(1)), "rk1")
    val r2 = top(ev.filter(col("event_type") === "purchase"),
      sum(expr("CAST(round(value * 100) AS BIGINT)")), "rk2")
    val depths = spark.sql(
      s"SELECT explode(sequence(1, $RoDepth)) AS d")
    val overlaps = r1.join(r2, "item")
      .crossJoin(broadcast(depths))
      .filter(col("rk1") <= col("d") && col("rk2") <= col("d"))
      .groupBy("d").agg(count(lit(1)).as("overlap"))
    depths.join(overlaps, Seq("d"), "left")
      .na.fill(0L, Seq("overlap"))
      .withColumn("a_d",
        round(col("overlap").cast("double") / col("d"), 6))
      .withColumn("ao", round(
        sum(round(col("overlap").cast("double") / col("d"), 6))
          .over(Window.partitionBy(lit(1))) / RoDepth, 6))
      .select(col("d"), col("overlap"), col("a_d"), col("ao"))
      .orderBy("d")
  }

  val rankOverlapSql: String =
    s"""WITH ev AS (SELECT event_type, value,
       |    json_extract_string(props, '$$.k') AS item
       |  FROM events WHERE json_extract_string(props, '$$.k') IS NOT NULL),
       |r1 AS (SELECT item, row_number() OVER (ORDER BY m DESC, item) AS rk1
       |  FROM (SELECT item, count(*) AS m FROM ev
       |        WHERE event_type = 'click' GROUP BY 1
       |        ORDER BY m DESC, item LIMIT $RoDepth) t),
       |r2 AS (SELECT item, row_number() OVER (ORDER BY m DESC, item) AS rk2
       |  FROM (SELECT item,
       |          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS m
       |        FROM ev WHERE event_type = 'purchase' GROUP BY 1
       |        ORDER BY m DESC, item LIMIT $RoDepth) t),
       |depths AS (SELECT unnest(generate_series(1, $RoDepth)) AS d),
       |ov AS (SELECT d.d, count(*) AS overlap
       |  FROM r1 JOIN r2 USING (item) CROSS JOIN depths d
       |  WHERE r1.rk1 <= d.d AND r2.rk2 <= d.d GROUP BY 1),
       |f AS (SELECT depths.d, COALESCE(ov.overlap, 0) AS overlap,
       |    round(CAST(COALESCE(ov.overlap, 0) AS DOUBLE) / depths.d, 6)
       |      AS a_d
       |  FROM depths LEFT JOIN ov ON ov.d = depths.d)
       |SELECT d, CAST(overlap AS BIGINT) AS overlap, a_d,
       |  round(sum(a_d) OVER () / $RoDepth, 6) AS ao
       |FROM f ORDER BY d""".stripMargin

  /** §2.225 `ece_calibration`: expected calibration error of the
    * quality score read as P(lang = en) — 10 fixed-width confidence
    * bins, per bin the mean score ("confidence") vs the observed
    * positive rate ("accuracy"), ECE = Σ (n_b/N)·|acc_b − conf_b|
    * (Naeini et al. 2015; the reliability-diagram table). A score can
    * have perfect AUC and still be badly calibrated — ranking metrics
    * cannot see it — and the §2.96 importance sampler weighs BY the
    * score, so miscalibration directly distorts the sampled corpus.
    *
    * Scale shape: one map-side-combined groupBy to ≤10 bins. The
    * per-bin mean score sums the 6 dp-gridded score as EXACT integer
    * e6 units (BIGINT — no float sum over the corpus), so conf is one
    * division of identical integers; the 10 ECE addends round at 6 dp
    * before the final sum (the §2.204 iv_term convention). The score
    * is used at its native 6 dp — NOT re-rounded to 4 dp, which lands
    * on .5 boundaries where the two engines' round() disagree (see
    * [[prCurve]]); round(s·10⁶) of a 6 dp value sits ~integer, never
    * near a half, so the e6 units are engine-identical. */
  def eceCalibration(spark: SparkSession, dir: String): DataFrame = {
    val f = graft.text.TextQueries.qualityFrame(Tables.documents(spark, dir))
      .select(col("quality_score").as("s"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val bins = f
      .withColumn("bin", least(floor(col("s") * 10), lit(9L)).cast("int"))
      .groupBy("bin").agg(
        count(lit(1)).as("n"),
        sum(round(col("s") * 1000000).cast("long")).as("s_e6"),
        sum("y").as("n_pos"))
    val total = bins.agg(sum("n").as("n_total"))
    bins.crossJoin(broadcast(total))
      .withColumn("confidence",
        round(col("s_e6").cast("double") / 1000000.0 / col("n"), 6))
      .withColumn("accuracy",
        round(col("n_pos").cast("double") / col("n"), 6))
      .withColumn("gap", round(abs(col("accuracy") - col("confidence")), 6))
      .withColumn("ece_term", round(
        col("n").cast("double") / col("n_total") * col("gap"), 6))
      .withColumn("ece",
        round(sum("ece_term").over(Window.partitionBy("n_total")), 6))
      .select("bin", "n", "confidence", "accuracy", "gap", "ece")
      .orderBy("bin")
  }

  val eceCalibrationSql: String = {
    import graft.text.TextQueries.stopListSql
    s"""WITH f AS (SELECT
       |    round(0.4 * (length(regexp_replace(text, '[^a-z]', '', 'g')) / length(text))
       |      + 0.4 * (1.0 - abs(len(list_filter(_toks, t -> t IN ($stopListSql))) / n_tokens - 0.3))
       |      + 0.2 * least(1.0, n_tokens / 100.0), 6) AS s,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM (SELECT lang, text, string_split_regex(trim(text), '\\s+') AS _toks,
       |          CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS n_tokens
       |        FROM documents) t),
       |bins AS (SELECT CAST(least(floor(s * 10), 9) AS INTEGER) AS bin,
       |    count(*) AS n,
       |    CAST(sum(CAST(round(s * 1000000) AS BIGINT)) AS BIGINT) AS s_e6,
       |    CAST(sum(y) AS BIGINT) AS n_pos
       |  FROM f GROUP BY 1),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM bins),
       |g AS (SELECT bin, n,
       |    round(CAST(s_e6 AS DOUBLE) / 1000000.0 / n, 6) AS confidence,
       |    round(CAST(n_pos AS DOUBLE) / n, 6) AS accuracy,
       |    round(abs(round(CAST(n_pos AS DOUBLE) / n, 6)
       |      - round(CAST(s_e6 AS DOUBLE) / 1000000.0 / n, 6)), 6) AS gap,
       |    n_total
       |  FROM bins CROSS JOIN t),
       |e AS (SELECT bin, n, confidence, accuracy, gap, n_total,
       |    round(CAST(n AS DOUBLE) / n_total * gap, 6) AS ece_term
       |  FROM g)
       |SELECT bin, n, confidence, accuracy, gap,
       |  round(sum(ece_term) OVER (PARTITION BY n_total), 6) AS ece
       |FROM e ORDER BY bin""".stripMargin
  }

  /** §2.289 `lift_table`: cumulative gains / lift deciles of the §2.29
    * quality score as an English-document classifier — the targeting
    * view the §2.203 AUC compresses to one number ("if we only take
    * the top 10/20/…% by score, what share of the positives do we
    * capture, and at what multiple of the base rate?"), the table a
    * corpus-selection budget decision actually reads.
    *
    * Scale shape: the §2.203 trick verbatim — the 4 dp score grid
    * bounds the cell frame at ≤10⁴ rows whatever the corpus, ONE
    * map-side-combined groupBy collapses the scan, and the decile
    * assignment/cumulatives are windows over the bounded frame (no
    * data-sized global sort).
    *
    * Determinism: decile boundaries by INTEGER floor-division of
    * exact counts (cum·10 div total, capped at 9 — cells straddling a
    * boundary go to their starting decile); every rate/lift is a
    * fixed-sequence division of exact integers, rounded 6 dp. */
  def liftTable(spark: SparkSession, dir: String): DataFrame = {
    val f = graft.text.TextQueries.qualityFrame(Tables.documents(spark, dir))
      .select((round(col("quality_score") * 10000) / 10000.0).as("s"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val cells = f.groupBy("s").agg(
      count(lit(1)).as("cn"), sum("y").as("cp"))
    val wCum = Window.orderBy(desc("s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(lit(1))
    val dec = cells
      .withColumn("cum_above", sum("cn").over(wCum) - col("cn"))
      .withColumn("total", sum("cn").over(wAll))
      .withColumn("decile",
        least(expr("cum_above * 10 div total"), lit(9L)) + 1)
      .groupBy("decile").agg(sum("cn").as("n"), sum("cp").as("n_pos"))
    val wDec = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(lit(1))
    def d(c: Column) = c.cast("double")
    val out = dec
      .withColumn("cum_n", sum("n").over(wDec))
      .withColumn("cum_pos", sum("n_pos").over(wDec))
      .withColumn("tot", sum("n").over(wTot))
      .withColumn("tot_pos", sum("n_pos").over(wTot))
    val base = d(col("tot_pos")) / d(col("tot"))
    out.select(col("decile"), col("n"), col("n_pos"),
      round(d(col("n_pos")) / d(col("n")), 6).as("response_rate"),
      round((d(col("n_pos")) / d(col("n"))) / base, 6).as("lift"),
      round(d(col("cum_pos")) / d(col("tot_pos")), 6).as("cum_capture"),
      round((d(col("cum_pos")) / d(col("cum_n"))) / base, 6).as("cum_lift"))
      .orderBy("decile")
  }

  val liftTableSql: String = {
    import graft.text.TextQueries.stopListSql
    s"""WITH f AS (SELECT
       |    round(round(0.4 * (length(regexp_replace(text, '[^a-z]', '', 'g')) / length(text))
       |      + 0.4 * (1.0 - abs(len(list_filter(_toks, t -> t IN ($stopListSql))) / n_tokens - 0.3))
       |      + 0.2 * least(1.0, n_tokens / 100.0), 6) * 10000) / 10000.0 AS s,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM (SELECT lang, text, string_split_regex(trim(text), '\\s+') AS _toks,
       |          CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS n_tokens
       |        FROM documents) t),
       |cells AS (SELECT s, count(*) AS cn, CAST(sum(y) AS BIGINT) AS cp
       |  FROM f GROUP BY s),
       |marked AS (SELECT cn, cp,
       |    CAST(sum(cn) OVER (ORDER BY s DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      - cn AS BIGINT) AS cum_above,
       |    CAST(sum(cn) OVER () AS BIGINT) AS total
       |  FROM cells),
       |dec AS (SELECT least(cum_above * 10 // total, 9) + 1 AS decile,
       |    CAST(sum(cn) AS BIGINT) AS n, CAST(sum(cp) AS BIGINT) AS n_pos
       |  FROM marked GROUP BY 1),
       |cum AS (SELECT decile, n, n_pos,
       |    CAST(sum(n) OVER (ORDER BY decile
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_n,
       |    CAST(sum(n_pos) OVER (ORDER BY decile
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_pos,
       |    CAST(sum(n) OVER () AS BIGINT) AS tot,
       |    CAST(sum(n_pos) OVER () AS BIGINT) AS tot_pos
       |  FROM dec)
       |SELECT decile, n, n_pos,
       |  round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS response_rate,
       |  round((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
       |    / (CAST(tot_pos AS DOUBLE) / CAST(tot AS DOUBLE)), 6) AS lift,
       |  round(CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE), 6)
       |    AS cum_capture,
       |  round((CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE))
       |    / (CAST(tot_pos AS DOUBLE) / CAST(tot AS DOUBLE)), 6) AS cum_lift
       |FROM cum ORDER BY decile""".stripMargin
  }
  /** Reciprocal-rank micro-units for ranks 1..10 — round(10⁶/r) as
    * shared literals on both engines (1/3 etc. are not exact doubles,
    * so the grid is pinned, the §2.205 IdcgCum convention). */
  val RrMicro: Seq[Long] = Seq(1000000L, 500000L, 333333L, 250000L,
    200000L, 166667L, 142857L, 125000L, 111111L, 100000L)

  /** §2.301 `mrr_eval`: MRR@10 and hit-rate@k of the §2.205 popularity
    * recommender — the first-hit metrics that complement NDCG's graded
    * view (MRR is what search/recsys teams quote when ONE good result
    * is enough). Same candidate machinery as §2.205: per user the
    * viewed items ranked by global click popularity, relevance = the
    * user's purchased items, users with ≥1 relevant candidate scored;
    * RR = 1/rank of the first relevant item inside the top-10, 0 if
    * it sits below the cutoff.
    *
    * Scale shape: identical to §2.205 — one corpus scan + distinct to
    * the user×item view grain, item-grain popularity BROADCAST onto
    * it, the rank window partitioned per user; the relevance join
    * runs at the same user×item grain (NOT top-10-pruned — a user
    * whose only purchase ranks 11th must score RR = 0, not drop out),
    * and the metric reduction collapses user-grain rows to one.
    *
    * Determinism: first-hit ranks are integers off a totally-ordered
    * window (pop DESC, item ASC); each RR contribution is the exact
    * [[RrMicro]] integer so the cross-user sum is pure BIGINT; the
    * final MRR is one division of identical integers. */
  def mrrEval(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("bigint").as("item"))
      .filter(col("item").isNotNull)
    val views = ev.filter(col("event_type") === "view")
      .select("user_id", "item").distinct()
    val pop = ev.filter(col("event_type") === "click")
      .groupBy("item").agg(count(lit(1)).as("pop"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select("user_id", "item").distinct()
      .withColumn("rel", lit(1L))
    val w = Window.partitionBy("user_id")
      .orderBy(col("pop").desc, col("item").asc)
    val ranked = views
      .join(broadcast(pop), Seq("item"), "left")
      .na.fill(0L, Seq("pop"))
      .withColumn("rn", row_number().over(w))
      .join(purch, Seq("user_id", "item"), "left")
      .na.fill(0L, Seq("rel"))
    val perUser = ranked.groupBy("user_id").agg(
      sum("rel").as("n_rel"),
      min(when(col("rel") === 1L && col("rn") <= 10, col("rn")))
        .as("first_hit"))
      .filter(col("n_rel") > 0)
      // explicit null guard: element_at(arr, NULL) is not a safe 0 —
      // guard BEFORE indexing so no-hit users contribute exactly 0
      .withColumn("rr_micro", when(col("first_hit").isNotNull,
        element_at(array(RrMicro.map(lit): _*), col("first_hit").cast("int")))
        .otherwise(lit(0L)))
    perUser.agg(
      count(lit(1)).as("n_users"),
      sum(when(col("first_hit").isNotNull, 1L).otherwise(0L)).as("n_hit"),
      sum(when(col("first_hit") <= 1, 1L).otherwise(0L)).as("hits_at_1"),
      sum(when(col("first_hit") <= 3, 1L).otherwise(0L)).as("hits_at_3"),
      sum(when(col("first_hit") <= 5, 1L).otherwise(0L)).as("hits_at_5"),
      sum("rr_micro").as("rrm"))
      .select(col("n_users"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_users"), 6)
          .as("hit_rate_10"),
        col("hits_at_1"), col("hits_at_3"), col("hits_at_5"),
        round(col("rrm") / 1000000.0 / col("n_users"), 6).as("mrr_10"))
  }

  val mrrEvalSql: String = {
    val grid = RrMicro.mkString("[", ", ", "]")
    s"""WITH ev AS (SELECT user_id, event_type,
       |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item
       |  FROM events WHERE json_extract_string(props, '$$.k') IS NOT NULL),
       |views AS (SELECT DISTINCT user_id, item FROM ev
       |  WHERE event_type = 'view'),
       |pop AS (SELECT item, count(*) AS pop FROM ev
       |  WHERE event_type = 'click' GROUP BY 1),
       |purch AS (SELECT DISTINCT user_id, item FROM ev
       |  WHERE event_type = 'purchase'),
       |ranked AS (SELECT v.user_id, v.item,
       |    row_number() OVER (PARTITION BY v.user_id
       |      ORDER BY coalesce(p.pop, 0) DESC, v.item ASC) AS rn
       |  FROM views v LEFT JOIN pop p USING (item)),
       |per_user AS (SELECT r.user_id,
       |    CAST(count(pu.item) AS BIGINT) AS n_rel,
       |    min(CASE WHEN pu.item IS NOT NULL AND r.rn <= 10
       |      THEN r.rn END) AS first_hit
       |  FROM ranked r LEFT JOIN purch pu
       |    ON pu.user_id = r.user_id AND pu.item = r.item
       |  GROUP BY 1 HAVING count(pu.item) > 0),
       |rr AS (SELECT first_hit,
       |    coalesce($grid[CAST(first_hit AS INTEGER)], 0) AS rr_micro
       |  FROM per_user)
       |SELECT CAST(count(*) AS BIGINT) AS n_users,
       |  CAST(sum(CASE WHEN first_hit IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hit,
       |  round(CAST(sum(CASE WHEN first_hit IS NOT NULL THEN 1 ELSE 0 END)
       |    AS DOUBLE) / count(*), 6) AS hit_rate_10,
       |  CAST(sum(CASE WHEN first_hit <= 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS hits_at_1,
       |  CAST(sum(CASE WHEN first_hit <= 3 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS hits_at_3,
       |  CAST(sum(CASE WHEN first_hit <= 5 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS hits_at_5,
       |  round(CAST(sum(rr_micro) AS BIGINT) / 1000000.0 / count(*), 6)
       |    AS mrr_10
       |FROM rr""".stripMargin
  }

  /** Labeler-A keep rule for [[cohensKappa]]: the §2.29 composite
    * quality score gated at its corpus median (~0.72 — the score
    * ranges [0.62, 0.86] on this corpus; a 0.5 gate keeps everything
    * and degenerates κ). The score is 6 dp-rounded, so the boundary
    * compare is on identical doubles on both engines. */
  val KappaScoreGate = 0.72

  /** Labeler-B keep rule for [[cohensKappa]]: the cheap structural
    * heuristic a pipeline runs before it has a trained scorer —
    * enough tokens and mostly-alphabetic text. */
  val KappaMinTokens = 50L
  val KappaMinAlpha = 0.8

  /** §2.305 `cohens_kappa`: inter-labeler agreement (Cohen 1960)
    * between two corpus-filter "keep" rules — labeler A the §2.29
    * quality-score gate, labeler B a structural heuristic
    * (≥[[KappaMinTokens]] tokens and alpha ratio ≥[[KappaMinAlpha]]).
    * κ = (p_o − p_e)/(1 − p_e) corrects raw agreement for chance —
    * the number that says whether two cheap labelers actually measure
    * the same thing (raw p_o flatters any pair of imbalanced rules).
    * At 100 TB filter rules are developed independently and composed;
    * this is the audit run before replacing one gate with another.
    *
    * Scale shape: ONE map-side-combined pass collapses the corpus to
    * the four 2×2 contingency cells; everything after is arithmetic
    * on one row.
    *
    * Determinism: cells are exact BIGINTs; p_o, p_e are divisions of
    * exact integer cross-products (n·n as the common denominator); κ
    * is one fixed-sequence expression of those. The degenerate
    * both-labelers-constant case (p_e = 1) is gated by an INTEGER
    * compare, not a float equality. */
  def cohensKappa(spark: SparkSession, dir: String): DataFrame = {
    val f = graft.text.TextQueries.qualityFrame(Tables.documents(spark, dir))
      .select(
        when(col("quality_score") >= KappaScoreGate, 1L).otherwise(0L).as("a"),
        when(col("n_tokens") >= KappaMinTokens &&
          col("_alpha") >= KappaMinAlpha, 1L).otherwise(0L).as("b"))
    val cells = f.agg(
      count(lit(1)).as("n"),
      sum(when(col("a") === 1L && col("b") === 1L, 1L).otherwise(0L))
        .as("n_both"),
      sum(when(col("a") === 1L && col("b") === 0L, 1L).otherwise(0L))
        .as("n_a_only"),
      sum(when(col("a") === 0L && col("b") === 1L, 1L).otherwise(0L))
        .as("n_b_only"),
      sum(when(col("a") === 0L && col("b") === 0L, 1L).otherwise(0L))
        .as("n_neither"))
    def d(c: Column) = c.cast("double")
    val rA1 = col("n_both") + col("n_a_only")
    val rB1 = col("n_both") + col("n_b_only")
    val po = d(col("n_both") + col("n_neither")) / d(col("n"))
    val pe = d(rA1 * rB1 + (col("n") - rA1) * (col("n") - rB1)) /
      d(col("n") * col("n"))
    val degenerate = (rA1 === 0L || rA1 === col("n")) &&
      (rB1 === 0L || rB1 === col("n"))
    cells.select(col("n"), col("n_both"), col("n_a_only"),
      col("n_b_only"), col("n_neither"),
      round(po, 6).as("p_observed"),
      round(pe, 6).as("p_expected"),
      when(degenerate, lit(null).cast("double"))
        .otherwise(round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"))
  }

  val cohensKappaSql: String = {
    import graft.text.TextQueries.stopListSql
    s"""WITH f AS (SELECT
       |    CASE WHEN round(0.4 * (length(regexp_replace(text, '[^a-z]', '', 'g')) / length(text))
       |      + 0.4 * (1.0 - abs(len(list_filter(_toks, t -> t IN ($stopListSql))) / n_tokens - 0.3))
       |      + 0.2 * least(1.0, n_tokens / 100.0), 6) >= $KappaScoreGate
       |      THEN 1 ELSE 0 END AS a,
       |    CASE WHEN n_tokens >= $KappaMinTokens AND
       |      (length(regexp_replace(text, '[^a-z]', '', 'g')) / length(text))
       |        >= $KappaMinAlpha THEN 1 ELSE 0 END AS b
       |  FROM (SELECT lang, text, string_split_regex(trim(text), '\\s+') AS _toks,
       |          CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS n_tokens
       |        FROM documents) t),
       |cells AS (SELECT count(*) AS n,
       |    CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_both,
       |    CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_a_only,
       |    CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_b_only,
       |    CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_neither
       |  FROM f)
       |SELECT n, n_both, n_a_only, n_b_only, n_neither,
       |  round(CAST(n_both + n_neither AS DOUBLE) / n, 6) AS p_observed,
       |  round(CAST((n_both + n_a_only) * (n_both + n_b_only)
       |      + (n - n_both - n_a_only) * (n - n_both - n_b_only) AS DOUBLE)
       |    / (n * n), 6) AS p_expected,
       |  CASE WHEN ((n_both + n_a_only) = 0 OR (n_both + n_a_only) = n)
       |        AND ((n_both + n_b_only) = 0 OR (n_both + n_b_only) = n)
       |    THEN NULL
       |    ELSE round((CAST(n_both + n_neither AS DOUBLE) / n
       |        - CAST((n_both + n_a_only) * (n_both + n_b_only)
       |            + (n - n_both - n_a_only) * (n - n_both - n_b_only)
       |          AS DOUBLE) / (n * n))
       |      / (1.0 - CAST((n_both + n_a_only) * (n_both + n_b_only)
       |            + (n - n_both - n_a_only) * (n - n_both - n_b_only)
       |          AS DOUBLE) / (n * n)), 6)
       |  END AS kappa
       |FROM cells""".stripMargin
  }

  /** §2.310 `slice_auc`: the §2.203 ROC-AUC computed per corpus slice
    * (documents.source) PLUS the pooled 'ALL' row — the
    * Simpson's-paradox audit for model evaluation: a score can rank
    * well pooled and badly inside every slice (or the reverse) when
    * slice base rates differ, and at 100 TB eval sets are always
    * slice mixtures. Read next to §2.226's slice metric gaps; this is
    * the ranking-quality version.
    *
    * Scale shape: ONE scan with a 2-way slice fanout (source + 'ALL'
    * — the §2.199 constant fanout on the doc-grain frame), one
    * map-side-combined groupBy to (slice, 4 dp-grid score) cells —
    * ≤(|slices|+1)·10⁴ rows whatever the corpus — and the §2.203
    * rank-sum arithmetic as a PER-SLICE window over that bounded
    * frame.
    *
    * Determinism: the §2.203 convention verbatim — 2·R⁺ carried as
    * pure BIGINT, one final division of identical integers; a
    * single-class slice (n⁺·n⁻ = 0) yields NULL via an INTEGER
    * gate. */
  def sliceAuc(spark: SparkSession, dir: String): DataFrame = {
    val f = graft.text.TextQueries.qualityFrame(Tables.documents(spark, dir))
      .select((round(col("quality_score") * 10000) / 10000.0).as("s"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        col("source"))
      .select(col("s"), col("y"),
        explode(array(col("source"), lit("ALL"))).as("slice"))
    val cells = f.groupBy("slice", "s").agg(
      sum("y").as("np"), (count(lit(1)) - sum(col("y"))).as("nn"))
    val w = Window.partitionBy("slice").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = cells
      .withColumn("cum",
        sum(col("np") + col("nn")).over(w) - (col("np") + col("nn")))
      .withColumn("rs2",
        col("np") * (col("cum") * 2 + col("np") + col("nn") + 1))
    ranked.groupBy("slice").agg(
      sum("np").as("n_pos"), sum("nn").as("n_neg"), sum("rs2").as("rs2"))
      .select(col("slice"), col("n_pos"), col("n_neg"),
        when(col("n_pos") * col("n_neg") === 0L, lit(null).cast("double"))
          .otherwise(
            round((col("rs2") - col("n_pos") * (col("n_pos") + 1))
              .cast("double") /
              (col("n_pos") * col("n_neg") * 2).cast("double"), 6))
          .as("auc"))
      .orderBy("slice")
  }

  val sliceAucSql: String = {
    import graft.text.TextQueries.stopListSql
    s"""WITH f0 AS (SELECT
       |    round(round(0.4 * (length(regexp_replace(text, '[^a-z]', '', 'g')) / length(text))
       |      + 0.4 * (1.0 - abs(len(list_filter(_toks, t -> t IN ($stopListSql))) / n_tokens - 0.3))
       |      + 0.2 * least(1.0, n_tokens / 100.0), 6) * 10000) / 10000.0 AS s,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, source
       |  FROM (SELECT lang, source, text,
       |          string_split_regex(trim(text), '\\s+') AS _toks,
       |          CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS n_tokens
       |        FROM documents) t),
       |f AS (SELECT s, y, source AS slice FROM f0
       |  UNION ALL SELECT s, y, 'ALL' FROM f0),
       |cells AS (SELECT slice, s, CAST(sum(y) AS BIGINT) AS np,
       |    CAST(count(*) - sum(y) AS BIGINT) AS nn
       |  FROM f GROUP BY slice, s),
       |ranked AS (SELECT slice, np, nn,
       |    CAST(sum(np + nn) OVER (PARTITION BY slice ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      - (np + nn) AS BIGINT) AS cum
       |  FROM cells),
       |agg AS (SELECT slice, CAST(sum(np) AS BIGINT) AS n_pos,
       |    CAST(sum(nn) AS BIGINT) AS n_neg,
       |    CAST(sum(np * (cum * 2 + np + nn + 1)) AS BIGINT) AS rs2
       |  FROM ranked GROUP BY slice)
       |SELECT slice, n_pos, n_neg,
       |  CASE WHEN n_pos * n_neg = 0 THEN NULL
       |    ELSE round(CAST(rs2 - n_pos * (n_pos + 1) AS DOUBLE)
       |      / CAST(n_pos * n_neg * 2 AS DOUBLE), 6)
       |  END AS auc
       |FROM agg ORDER BY slice""".stripMargin
  }

  /** §2.306 `brier_decomposition`: Murphy (1973) decomposition of the
    * Brier score of the §2.29 quality score read as P(lang = en) —
    * BS, and over the §2.225 10-bin reliability table the REL
    * (miscalibration, the penalty ECE reports unsquared), RES
    * (discrimination recovered), and UNC = ȳ(1−ȳ) (irreducible)
    * components, plus the Brier skill score 1 − BS/UNC and the
    * binning residual gap = BS − (REL − RES + UNC), which is exactly
    * the within-bin score variance the 10-bin coarsening hides. ECE
    * (§2.225) says HOW FAR off the calibration is; this says how much
    * of the total loss calibration vs discrimination each explain —
    * the decision between recalibrating a scorer and retraining it.
    *
    * Scale shape: ONE map-side-combined groupBy to ≤10 bins carrying
    * exact integer moments — the squared error (s_e6 − y·10⁶)² is an
    * exact ≤10¹² integer per row, summed as DECIMAL(38,0)/HUGEINT; no
    * float crosses a row boundary. The decomposition is arithmetic on
    * the bounded bin frame.
    *
    * Determinism: the corpus-side sums are exact integers; each
    * per-bin REL/RES addend is one fixed-sequence float expression of
    * identical integers rounded to 8 dp before the ≤10-addend sum
    * (finer than the §2.225 6 dp because squared gaps are ~10⁻⁴);
    * BS/UNC/skill/gap are single final expressions. */
  def brierDecomposition(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val f = graft.text.TextQueries.qualityFrame(Tables.documents(spark, dir))
      .select(round(col("quality_score") * 1000000).cast("long").as("s_e6"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val bins = f
      .withColumn("bin",
        least(expr("s_e6 div 100000"), lit(9L)).cast("int"))
      .groupBy("bin").agg(
        count(lit(1)).as("n"),
        sum(col("s_e6").cast(dec)).as("s_sum"),
        sum("y").as("n_pos"),
        sum(((col("s_e6") - col("y") * 1000000L).cast(dec) *
          (col("s_e6") - col("y") * 1000000L).cast(dec)).cast(dec))
          .as("se2_sum"))
    def d(c: Column) = c.cast("double")
    val tot = bins.agg(
      sum("n").as("nt"), sum(col("s_sum").cast(dec)).as("st"),
      sum("n_pos").as("pt"), sum(col("se2_sum").cast(dec)).as("e2t"))
    val terms = bins.crossJoin(broadcast(tot))
      .withColumn("conf", d(col("s_sum")) / 1000000.0 / d(col("n")))
      .withColumn("acc", d(col("n_pos")) / d(col("n")))
      .withColumn("ybar", d(col("pt")) / d(col("nt")))
      .withColumn("rel_term", round(d(col("n")) / d(col("nt")) *
        (col("conf") - col("acc")) * (col("conf") - col("acc")), 8))
      .withColumn("res_term", round(d(col("n")) / d(col("nt")) *
        (col("acc") - col("ybar")) * (col("acc") - col("ybar")), 8))
    val agg = terms.groupBy("nt", "pt", "e2t").agg(
      round(sum("rel_term"), 8).as("reliability"),
      round(sum("res_term"), 8).as("resolution"))
    val ybar = d(col("pt")) / d(col("nt"))
    val bs = d(col("e2t")) / 1.0e12 / d(col("nt"))
    val unc = ybar * (lit(1.0) - ybar)
    agg.select(col("nt").as("n"),
      round(ybar, 6).as("base_rate"),
      round(bs, 8).as("brier"),
      round(unc, 8).as("uncertainty"),
      col("reliability"), col("resolution"),
      round(bs - (col("reliability") - col("resolution") + unc), 8)
        .as("decomp_gap"),
      round(lit(1.0) - try_divide(bs, unc), 6).as("skill"))
  }

  val brierDecompositionSql: String = {
    import graft.text.TextQueries.stopListSql
    s"""WITH f AS (SELECT
       |    CAST(round(round(0.4 * (length(regexp_replace(text, '[^a-z]', '', 'g')) / length(text))
       |      + 0.4 * (1.0 - abs(len(list_filter(_toks, t -> t IN ($stopListSql))) / n_tokens - 0.3))
       |      + 0.2 * least(1.0, n_tokens / 100.0), 6) * 1000000) AS BIGINT) AS s_e6,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM (SELECT lang, text, string_split_regex(trim(text), '\\s+') AS _toks,
       |          CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS n_tokens
       |        FROM documents) t),
       |bins AS (SELECT CAST(least(s_e6 // 100000, 9) AS INTEGER) AS bin,
       |    count(*) AS n,
       |    sum(CAST(s_e6 AS HUGEINT)) AS s_sum,
       |    CAST(sum(y) AS BIGINT) AS n_pos,
       |    sum(CAST(s_e6 - y * 1000000 AS HUGEINT)
       |      * CAST(s_e6 - y * 1000000 AS HUGEINT)) AS se2_sum
       |  FROM f GROUP BY 1),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt, sum(s_sum) AS st,
       |    CAST(sum(n_pos) AS BIGINT) AS pt, sum(se2_sum) AS e2t
       |  FROM bins),
       |terms AS (SELECT b.n, b.s_sum, b.n_pos, t.nt, t.pt, t.e2t,
       |    CAST(b.s_sum AS DOUBLE) / 1000000.0 / b.n AS conf,
       |    CAST(b.n_pos AS DOUBLE) / b.n AS acc,
       |    CAST(t.pt AS DOUBLE) / t.nt AS ybar
       |  FROM bins b CROSS JOIN tot t),
       |rr AS (SELECT nt, pt, e2t,
       |    round(sum(round(CAST(n AS DOUBLE) / nt * (conf - acc) * (conf - acc), 8)), 8)
       |      AS reliability,
       |    round(sum(round(CAST(n AS DOUBLE) / nt * (acc - ybar) * (acc - ybar), 8)), 8)
       |      AS resolution
       |  FROM terms GROUP BY 1, 2, 3)
       |SELECT nt AS n,
       |  round(CAST(pt AS DOUBLE) / nt, 6) AS base_rate,
       |  round(CAST(e2t AS DOUBLE) / 1.0e12 / nt, 8) AS brier,
       |  round((CAST(pt AS DOUBLE) / nt) * (1.0 - CAST(pt AS DOUBLE) / nt), 8)
       |    AS uncertainty,
       |  reliability, resolution,
       |  round(CAST(e2t AS DOUBLE) / 1.0e12 / nt
       |    - (reliability - resolution
       |       + (CAST(pt AS DOUBLE) / nt) * (1.0 - CAST(pt AS DOUBLE) / nt)), 8)
       |    AS decomp_gap,
       |  round(1.0 - (CAST(e2t AS DOUBLE) / 1.0e12 / nt)
       |    / ((CAST(pt AS DOUBLE) / nt) * (1.0 - CAST(pt AS DOUBLE) / nt)), 6)
       |    AS skill
       |FROM rr""".stripMargin
  }
}
