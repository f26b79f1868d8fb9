package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.TextFunctions._

/** Train/validation split hygiene — SURVEY.md §2.139.
  *
  * A random split is only sound if duplicated content doesn't straddle
  * it: a validation doc whose near-copy sits in train is leaked eval
  * signal (the train/test-contamination failure §2.72 checks against
  * EXTERNAL benchmarks, here applied to the corpus's own split).
  */
object Splits {

  /** Validation share: hash bucket ∈ [0, 10), bucket ≥ 8 → val (80/20). */
  val ValFrom = 8

  /** §2.139 split-leakage audit: assign every document a deterministic
    * train/val split (hash bucket — reproducible across runs and
    * engines, no RNG, the §2.37 convention) and report every MinHash
    * near-dup pair (§2.22's banded candidates, est Jaccard ≥ 0.25)
    * that STRADDLES the split — exactly the pairs a cluster-aware
    * split (cut on §2.39 cluster ids, not doc ids) would eliminate,
    * and the reason naive doc-level splits overstate held-out loss
    * gaps. The corpus has no EXACT text dups (verified — md5 groups
    * are all singletons), so leakage is a near-dup phenomenon here,
    * as it is in real crawls after exact dedup has already run.
    *
    * Scale shape: the pair stream is the §2.22 banded-LSH candidate
    * join (O(n·bands), no all-pairs); the split tag is row-local
    * (hash of doc_id) computed on the doc-id-sized projection, so the
    * two tag joins are id⋈pair hash joins on the pair stream — no new
    * corpus-sized shuffle beyond what minhash itself costs. Output is
    * leaky-pair-sized. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tags = docs.select(col("doc_id"),
      (pmod(hash64(concat_ws(":", lit("sp"), col("doc_id"))),
        lit(10)) >= ValFrom).as("is_val"))
    val pairs = graft.dedup.Dedup.minhashPairs(docs)
    pairs
      .join(tags.select(col("doc_id").as("id_a"), col("is_val").as("val_a")), "id_a")
      .join(tags.select(col("doc_id").as("id_b"), col("is_val").as("val_b")), "id_b")
      .filter(col("val_a") =!= col("val_b"))
      .select(col("id_a"), col("id_b"), col("est_jaccard"),
        when(col("val_a"), col("id_a")).otherwise(col("id_b")).as("val_doc"),
        when(col("val_a"), col("id_b")).otherwise(col("id_a")).as("train_doc"))
      .orderBy("id_a", "id_b")
  }

  /** Split percentages for [[makeSplits]]: bucket < 80 → train,
    * < 90 → val, else test. */
  val TrainUpto = 80
  val ValUpto = 90

  /** §2.159 leakage-free split construction: the CONSTRUCTIVE twin of
    * [[splitLeakage]] — instead of auditing a doc-level split for
    * near-dup straddle, assign each document the split of its §2.39
    * near-dup CLUSTER, bucketed by a deterministic hash of the cluster
    * id (no RNG, reproducible across runs and engines). Near-dups
    * share a cluster by construction, so a near-copy of a validation
    * doc CANNOT sit in train — the leakage class §2.139 reports is
    * structurally eliminated, which is exactly how production corpus
    * pipelines cut train/val/test (group-split on dedup clusters, not
    * documents).
    *
    * Scale shape: a row-local hash+bucket projection of the doc-sized
    * cluster-label table (the §2.39 star labels, memoized once per
    * session, or the persisted §2.320 table — the §2.97 precomputed-
    * frame contract); no new corpus-sized shuffle. Output is doc-grain
    * (doc_id, cluster_id, split). */
  def makeSplits(spark: SparkSession, dir: String): DataFrame = {
    val clusters = Pipeline.dedupClustersCached(spark, dir)
      .select("doc_id", "cluster_id")
    clusters
      .withColumn("bucket", pmod(
        hash64(concat_ws(":", lit("mk"), col("cluster_id"))), lit(100)))
      .withColumn("split",
        when(col("bucket") < TrainUpto, "train")
          .when(col("bucket") < ValUpto, "val")
          .otherwise("test"))
      .select("doc_id", "cluster_id", "split")
      .orderBy("doc_id")
  }

  def makeSplitsSql: String =
    s"""WITH c AS (SELECT doc_id, cluster_id
       |  FROM (${Pipeline.dedupClustersSql}) t),
       |b AS (SELECT doc_id, cluster_id,
       |    ${hash64Sql("concat_ws(':', 'mk', cluster_id)")} % 100 AS bucket
       |  FROM c)
       |SELECT doc_id, cluster_id,
       |  CASE WHEN bucket < $TrainUpto THEN 'train'
       |       WHEN bucket < $ValUpto THEN 'val'
       |       ELSE 'test' END AS split
       |FROM b ORDER BY doc_id""".stripMargin

  /** Calendar fractions for the two split boundaries (train | val |
    * test at 60% / 80% of the event span). */
  val EmbargoTrainPct = 6
  val EmbargoValPct = 8

  /** Embargo width after each boundary, microseconds (1 day). */
  val EmbargoUs: Long = 86400L * 1000000L

  /** §2.284 `time_split_embargo`: purged + embargoed TIME-based
    * train/val/test split audit over 30-minute sessions — the
    * temporal counterpart of [[makeSplits]]'s cluster split, i.e. the
    * split construction for FORECASTING/sequence models where the
    * leak vector is time, not near-duplication (López de Prado's
    * purged k-fold with embargo, applied as a single chronological
    * cut). Sessions assign by position against boundaries at
    * [[EmbargoTrainPct]]/[[EmbargoValPct]] tenths of the event span:
    * entirely-before → the split; SPANNING a boundary → purged (a
    * session straddling the cut carries future signal into the past);
    * starting within [[EmbargoUs]] after a boundary → embargo
    * (serially-correlated neighbors of the held-out horizon are
    * dropped, not trained on). By construction no retained train
    * event touches the val horizon — the audit reports the census
    * per bucket so the cost of purging is visible.
    *
    * Scale shape: ONE user_id exchange + per-user sort for the
    * session window (the §2.36 machinery), one session-grain
    * map-side-combined groupBy, then a ≤5-row census (n_users via a
    * second bounded groupBy at (split, user) grain — no distinct over
    * the corpus). Boundaries are a 1-row broadcast.
    *
    * Determinism: all-integer microsecond arithmetic; boundary
    * positions use integer tenths (span·pct div 10). */
  def timeSplitEmbargo(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("us", "event_id")
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("new_session",
        when(lag(col("us"), 1).over(byUser).isNull ||
          col("us") - lag(col("us"), 1).over(byUser) >
            graft.streaming.Streaming.SessionGapMinutes * 60L * 1000000L,
          1L).otherwise(0L))
      .withColumn("session_id", sum("new_session").over(
        byUser.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, org.apache.spark.sql.expressions.Window.currentRow)))
    val sess = ev.groupBy("user_id", "session_id")
      .agg(min("us").as("s_us"), max("us").as("e_us"),
        count(lit(1)).as("n_ev"))
    val bounds = ev.agg(min("us").as("t0"), max("us").as("t1"))
      .select(
        expr(s"t0 + (t1 - t0) * $EmbargoTrainPct div 10").as("b1"),
        expr(s"t0 + (t1 - t0) * $EmbargoValPct div 10").as("b2"))
    val tagged = sess.crossJoin(broadcast(bounds))
      .withColumn("split",
        when(col("e_us") < col("b1"), "train")
          .when(col("s_us") < col("b1"), "purged")
          .when(col("s_us") < col("b1") + EmbargoUs, "embargo")
          .when(col("e_us") < col("b2"), "val")
          .when(col("s_us") < col("b2"), "purged")
          .when(col("s_us") < col("b2") + EmbargoUs, "embargo")
          .otherwise("test"))
    val census = tagged.groupBy("split")
      .agg(count(lit(1)).as("n_sessions"), sum("n_ev").as("n_events"))
    val users = tagged.select("split", "user_id").distinct()
      .groupBy("split").agg(count(lit(1)).as("n_users"))
    census.join(users, Seq("split")).orderBy("split")
  }

  def timeSplitEmbargoSql: String = {
    val gapUs = graft.streaming.Streaming.SessionGapMinutes * 60L * 1000000L
    s"""WITH ev AS (SELECT user_id, event_id,
       |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
       |flagged AS (SELECT user_id, event_id, us,
       |    CASE WHEN lag(us) OVER w IS NULL
       |           OR us - lag(us) OVER w > $gapUs THEN 1 ELSE 0 END
       |      AS new_session
       |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |sess AS (SELECT user_id,
       |    min(us) AS s_us, max(us) AS e_us, count(*) AS n_ev
       |  FROM (SELECT user_id, us,
       |      sum(new_session) OVER (PARTITION BY user_id
       |        ORDER BY us, event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |        AS session_id
       |    FROM flagged) t
       |  GROUP BY user_id, session_id),
       |bounds AS (SELECT
       |    min(us) + (max(us) - min(us)) * $EmbargoTrainPct // 10 AS b1,
       |    min(us) + (max(us) - min(us)) * $EmbargoValPct // 10 AS b2
       |  FROM ev),
       |tagged AS (SELECT user_id, n_ev,
       |    CASE WHEN e_us < b1 THEN 'train'
       |      WHEN s_us < b1 THEN 'purged'
       |      WHEN s_us < b1 + $EmbargoUs THEN 'embargo'
       |      WHEN e_us < b2 THEN 'val'
       |      WHEN s_us < b2 THEN 'purged'
       |      WHEN s_us < b2 + $EmbargoUs THEN 'embargo'
       |      ELSE 'test' END AS split
       |  FROM sess CROSS JOIN bounds)
       |SELECT split, count(*) AS n_sessions,
       |  CAST(sum(n_ev) AS BIGINT) AS n_events,
       |  count(DISTINCT user_id) AS n_users
       |FROM tagged GROUP BY 1 ORDER BY 1""".stripMargin
  }

  def splitLeakageSql: String =
    s"""WITH pairs AS (${graft.dedup.Dedup.minhashPairsSql()}),
       |tags AS (SELECT doc_id,
       |    ${hash64Sql("concat_ws(':', 'sp', doc_id)")} % 10 >= $ValFrom AS is_val
       |  FROM documents)
       |SELECT p.id_a, p.id_b, p.est_jaccard,
       |  CASE WHEN a.is_val THEN p.id_a ELSE p.id_b END AS val_doc,
       |  CASE WHEN a.is_val THEN p.id_b ELSE p.id_a END AS train_doc
       |FROM pairs p
       |JOIN tags a ON p.id_a = a.doc_id
       |JOIN tags b ON p.id_b = b.doc_id
       |WHERE a.is_val <> b.is_val
       |ORDER BY p.id_a, p.id_b""".stripMargin
  /** §2.303 `split_balance`: χ² homogeneity audit of the §2.159
    * cluster-hash split against the corpus's source mix — "did the
    * group-split accidentally concentrate a source in one split?",
    * the balance check a training run does before trusting val/test
    * numbers (a source skewed into val reads as a domain-shift
    * regression that isn't there). Per split×source cell: observed
    * docs, expected under independence E = row·col/n, standardized
    * residual (O−E)/√E, plus the overall χ² and its degrees of
    * freedom — the residuals localize WHICH cell drove a significant
    * χ² (|std_residual| > 2 is the usual flag). The table is every
    * split × source pair present: an empty cell is a row with O = 0,
    * since Pearson's χ² sums over the whole table and it adds its E.
    *
    * Scale shape: the split table is the §2.159 doc-grain frame; one
    * hash join onto the doc-grain source projection, then ONE
    * map-side-combined groupBy to a splits×sources-bounded cell
    * frame — margins and the χ² are windows over those ≤ 3·|S| cells
    * and the (n_splits, n_sources) dims are a 1-row broadcast.
    *
    * Determinism: counts exact BIGINTs; E and each residual are
    * fixed-sequence expressions of identical integers; each χ² addend
    * is carried as an exact micro-integer (×10⁶, the §2.203 carry) so
    * the cross-cell sum is pure BIGINT. */
  def splitBalance(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "source")
    val obs = makeSplits(spark, dir).select("doc_id", "split")
      .join(docs, "doc_id")
      .groupBy("split", "source").agg(count(lit(1)).as("n_docs"))
    val cells = obs.select("split").distinct()
      .crossJoin(broadcast(obs.select("source").distinct()))
      .join(obs, Seq("split", "source"), "left").na.fill(0L, Seq("n_docs"))
    val all = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val e = col("row_t").cast("double") * col("col_t") / col("n")
    // dims come from window collect_sets over the bounded cell frame.
    // The labels under `obs` are the memo's checkpoint, so its three
    // reads never re-run the clustering (a plan that re-traversed it
    // cost 0.85 -> 10.7 s at sf1, round 8)
    cells
      .withColumn("row_t", sum("n_docs").over(org.apache.spark.sql.expressions.Window.partitionBy("split")))
      .withColumn("col_t", sum("n_docs").over(org.apache.spark.sql.expressions.Window.partitionBy("source")))
      .withColumn("n", sum("n_docs").over(all))
      .withColumn("n_splits",
        size(collect_set(col("split")).over(all)).cast("long"))
      .withColumn("n_sources",
        size(collect_set(col("source")).over(all)).cast("long"))
      .withColumn("chi2_micro",
        round((col("n_docs") - e) * (col("n_docs") - e) / e * 1000000)
          .cast("long"))
      .withColumn("chi2_sum", sum("chi2_micro").over(all))
      .select(col("split"), col("source"), col("n_docs"),
        round(e, 6).as("expected"),
        round((col("n_docs") - e) / sqrt(e), 6).as("std_residual"),
        round(col("chi2_sum") / 1000000.0, 6).as("chi2_total"),
        ((col("n_splits") - 1) * (col("n_sources") - 1)).as("df"))
      .orderBy("split", "source")
  }

  val splitBalanceSql: String = {
    val e = "(CAST(row_t AS DOUBLE) * col_t / n)"
    s"""WITH s AS (SELECT doc_id, split FROM (${makeSplitsSql}) t),
       |obs AS (SELECT s.split, d.source, count(*) AS n_docs
       |  FROM s JOIN documents d USING (doc_id) GROUP BY 1, 2),
       |cells AS (SELECT sp.split, so.source, coalesce(o.n_docs, 0) AS n_docs
       |  FROM (SELECT DISTINCT split FROM obs) sp
       |  CROSS JOIN (SELECT DISTINCT source FROM obs) so
       |  LEFT JOIN obs o ON o.split = sp.split AND o.source = so.source),
       |dims AS (SELECT CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
       |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources
       |  FROM cells),
       |m AS (SELECT split, source, n_docs,
       |    CAST(sum(n_docs) OVER (PARTITION BY split) AS BIGINT) AS row_t,
       |    CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT) AS col_t,
       |    CAST(sum(n_docs) OVER () AS BIGINT) AS n
       |  FROM cells),
       |a AS (SELECT *,
       |    CAST(round((n_docs - $e) * (n_docs - $e) / $e * 1000000)
       |      AS BIGINT) AS chi2_micro
       |  FROM m)
       |SELECT split, source, n_docs,
       |  round($e, 6) AS expected,
       |  round((n_docs - $e) / sqrt($e), 6) AS std_residual,
       |  round(CAST(sum(chi2_micro) OVER () AS BIGINT) / 1000000.0, 6)
       |    AS chi2_total,
       |  (n_splits - 1) * (n_sources - 1) AS df
       |FROM a CROSS JOIN dims ORDER BY split, source""".stripMargin
  }
}
