package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Physical-layout planning operators — SURVEY.md §2.275–277.
  *
  * The ops a 100 TB writer runs BEFORE committing to a layout: how to
  * cut the corpus into balanced output shards, which join keys need
  * salting and by how much, and which column encodings the data
  * actually rewards. All three collapse the corpus to a bounded plan
  * frame in one pass — the plan is always tiny even when the data
  * is not.
  */
object Layout {

  /** Target characters per output shard for [[shardPlan]]. A plan
    * parameter, not a data statistic — production would pass bytes
    * (e.g. 512 MB); the test corpus uses a value that yields several
    * shards per source at every SF. */
  val ShardTargetChars = 2000L

  /** §2.275 `shard_plan`: balanced output-shard assignment for the
    * documents corpus — per source, docs in doc_id order are packed
    * greedily into shards of ~[[ShardTargetChars]] by cumulative
    * size: shard = (cumulative_chars − 1) div target. This is the
    * planning pass behind a 100 TB corpus write: it decides file
    * counts and boundaries BEFORE any bytes move, so the writer can
    * `repartitionByRange` straight into right-sized files instead of
    * discovering 40 000 small files afterwards (§2.59's compaction is
    * the cure; this is the prevention).
    *
    * Scale shape: ONE hash exchange on source; the running sum is a
    * per-source sequential window (each source's docs stream through
    * one task — the same order the writer itself needs); output grain
    * is shard-bounded (total_chars/target rows), never doc grain.
    *
    * Determinism: all-integer arithmetic — cumulative BIGINT chars,
    * integer division for the shard index. */
  def shardPlan(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("cum", sum("n_chars").over(w))
      .withColumn("shard_id",
        expr(s"(cum - 1) div $ShardTargetChars"))
      .groupBy("source", "shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("chars"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
      .orderBy("source", "shard_id")
  }

  val shardPlanSql: String =
    s"""WITH cum AS (SELECT source, doc_id, n_chars,
       |    CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum
       |  FROM documents)
       |SELECT source, (cum - 1) // $ShardTargetChars AS shard_id,
       |  count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS chars,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM cum GROUP BY 1, 2""".stripMargin

  /** Target rows per post-shuffle task for [[saltPlan]] — the knob a
    * real deployment sets from executor memory / target task runtime. */
  val SaltTargetRows = 800L

  /** §2.276 `salt_plan`: actionable skew-remediation plan for a join/
    * partition key — per key, the salt factor `ceil(rows / target)`
    * that caps any single post-salt partition at [[SaltTargetRows]]
    * rows. §2.154's `data_skew_report` DIAGNOSES skew (ratios,
    * stddevs); this op PRESCRIBES the fix: the exact fan-out to
    * apply per key (`Skew.saltedJoin` §2.48 consumes a factor like
    * this), plus the post-salt worst case so the planner can verify
    * the remedy before paying for it. Run on event_type — the
    * classic low-cardinality hot key where every key needs splitting.
    *
    * Scale shape: one map-side-combined groupBy to key grain (the
    * only corpus-sized stage); the plan frame is |keys| rows.
    *
    * Determinism: all-integer — ceil via (n + t − 1) div t. */
  def saltPlan(spark: SparkSession, dir: String): DataFrame = {
    val t = SaltTargetRows
    Tables.events(spark, dir)
      .groupBy(col("event_type").as("key"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("salt_factor", expr(s"(n_rows + ${t - 1}) div $t"))
      .withColumn("max_rows_after",
        expr("(n_rows + salt_factor - 1) div salt_factor"))
      .withColumn("needs_salt", col("salt_factor") > 1L)
      .orderBy(col("n_rows").desc, col("key"))
  }

  val saltPlanSql: String =
    s"""SELECT event_type AS key, count(*) AS n_rows,
       |  (count(*) + ${SaltTargetRows - 1}) // $SaltTargetRows
       |    AS salt_factor,
       |  (count(*) + (count(*) + ${SaltTargetRows - 1})
       |      // $SaltTargetRows - 1)
       |    // ((count(*) + ${SaltTargetRows - 1}) // $SaltTargetRows)
       |    AS max_rows_after,
       |  ((count(*) + ${SaltTargetRows - 1}) // $SaltTargetRows) > 1
       |    AS needs_salt
       |FROM events GROUP BY 1""".stripMargin

  /** Row-group size (in l_orderkey units) for [[encodingStats]] —
    * runs are counted within groups, mirroring how parquet encodes
    * per row-group, and keeping the window per-group instead of one
    * global sort. */
  val RowGroupOrderKeys = 1000L

  /** §2.277 `encoding_stats`: column-encoding advisor over lineitem —
    * for each candidate column, value-run counts in storage order
    * (within l_orderkey-div-[[RowGroupOrderKeys]] row groups, the
    * parquet unit), exact distinct count, and the encoding the
    * numbers justify: RLE when runs are long, DICT when the
    * dictionary is small, PLAIN otherwise. This is the audit behind
    * §2.78's range-sorted data-skipping write: sorting only pays if
    * it CREATES runs, and this op measures exactly that (a shipdate
    * sort turns l_shipdate's runs from ~1 into ~rows/2500 — the
    * difference between bit-packed RLE and 8 bytes/value at 100 TB).
    *
    * Scale shape: one hash exchange on row group + one per-group
    * sort shared by ALL columns (the lag windows share one
    * WindowSpec and fuse); the ×|columns| unpivot happens at
    * group-grain, and the report is |columns| rows. The exact
    * countDistinct Expand rides the same pass — production would
    * swap it for §2.207's HLL registers.
    *
    * Determinism: runs/distincts/rows are exact BIGINTs;
    * avg_run_len and distinct_ratio are single divisions. */
  def encodingStats(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_returnflag", "l_linestatus", "l_shipdate",
      "l_partkey", "l_quantity")
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        expr(s"l_orderkey div $RowGroupOrderKeys").as("rg"),
        col("l_returnflag"), col("l_linestatus"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("l_shipdate"),
        col("l_partkey").cast("string").as("l_partkey"),
        col("l_quantity").cast("long").cast("string").as("l_quantity"))
    // (l_orderkey, l_linenumber) is NOT unique on the dirty corpus —
    // the value columns join the sort so the order is total (equal
    // full rows are interchangeable for run counting)
    val ord = Seq("l_orderkey", "l_linenumber") ++ cols
    val w = Window.partitionBy("rg").orderBy(ord.map(col): _*)
    // null-safe run break (<=> mirrors the oracle's IS DISTINCT FROM):
    // a NULL current value must break/extend runs identically on both
    // engines, not collapse to the isNull||=!= form's NULL-comparison gap
    val flagged = cols.foldLeft(li) { (df, c) =>
      df.withColumn(s"${c}_brk",
        when(!(lag(col(c), 1).over(w) <=> col(c)), 1L).otherwise(0L))
    }
    val agg = flagged.agg(
      count(lit(1)).as("n_rows"),
      struct(cols.map(c => sum(col(s"${c}_brk")).as(c)): _*).as("runs"),
      struct(cols.map(c => countDistinct(col(c)).as(c)): _*).as("nd"))
    val perCol = cols.map { c =>
      agg.select(lit(c).as("col_name"), col("n_rows"),
        col(s"nd.$c").as("n_distinct"), col(s"runs.$c").as("n_runs"))
    }.reduce(_ unionAll _)
    perCol
      .withColumn("avg_run_len",
        round(col("n_rows").cast("double") / col("n_runs"), 4))
      .withColumn("distinct_ratio",
        round(col("n_distinct").cast("double") / col("n_rows"), 6))
      .withColumn("encoding",
        when(col("avg_run_len") >= 4.0, lit("RLE_DICT"))
          .when(col("n_distinct") <= 1000L, lit("DICT"))
          .otherwise(lit("PLAIN")))
      .orderBy("col_name")
  }

  val encodingStatsSql: String = {
    val cols = Seq("l_returnflag", "l_linestatus", "l_shipdate",
      "l_partkey", "l_quantity")
    val sel = cols.map { c =>
      s"""SELECT '$c' AS col_name, n_rows, ${c}_nd AS n_distinct,
         |  ${c}_runs AS n_runs FROM agg""".stripMargin
    }.mkString("\nUNION ALL\n")
    val ord = (Seq("l_orderkey", "l_linenumber") ++ cols).mkString(", ")
    s"""WITH li AS (SELECT l_orderkey, l_linenumber,
       |    l_orderkey // $RowGroupOrderKeys AS rg,
       |    l_returnflag, l_linestatus,
       |    strftime(l_shipdate, '%Y-%m-%d') AS l_shipdate,
       |    CAST(l_partkey AS VARCHAR) AS l_partkey,
       |    CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) AS l_quantity
       |  FROM lineitem),
       |brk AS (SELECT *,
       |    ${cols.map(c =>
              s"""CASE WHEN lag($c) OVER (PARTITION BY rg
                 |      ORDER BY $ord) IS DISTINCT
                 |      FROM $c THEN 1 ELSE 0 END AS ${c}_brk""".stripMargin)
             .mkString(",\n    ")}
       |  FROM li),
       |agg AS (SELECT count(*) AS n_rows,
       |    ${cols.map(c =>
              s"CAST(sum(${c}_brk) AS BIGINT) AS ${c}_runs," +
              s" count(DISTINCT $c) AS ${c}_nd").mkString(",\n    ")}
       |  FROM brk),
       |percol AS ($sel)
       |SELECT col_name, n_rows, n_distinct, n_runs,
       |  round(CAST(n_rows AS DOUBLE) / n_runs, 4) AS avg_run_len,
       |  round(CAST(n_distinct AS DOUBLE) / n_rows, 6) AS distinct_ratio,
       |  CASE WHEN round(CAST(n_rows AS DOUBLE) / n_runs, 4) >= 4.0
       |      THEN 'RLE_DICT'
       |    WHEN n_distinct <= 1000 THEN 'DICT'
       |    ELSE 'PLAIN' END AS encoding
       |FROM percol""".stripMargin
  }

  /** Bits per distinct key for a 1% false-positive bloom filter:
    * ln(1/p)/ln²2 at p = 0.01, inlined as the SAME literal on both
    * engines (no live libm — the §2.95 convention). The matching
    * optimal hash count k = round((bits/n)·ln 2) is the CONSTANT 7
    * at this p, inlined likewise. */
  val BloomBitsPerKey = 9.58505837736744
  val BloomHashes = 7L

  /** Dictionary-page cutoff for [[bloomPlan]]: at or below this many
    * distinct values a parquet dictionary page already answers point
    * lookups (and row-group dictionary filtering prunes), so a bloom
    * filter spends bytes for nothing. */
  val BloomDictCutoff = 4096L

  /** §2.291 `bloom_plan`: parquet bloom-filter sizing advisor for the
    * lineitem point-lookup keys — per candidate column, the exact
    * distinct-key count, the filter size (bits/bytes) a 1% FPP bloom
    * needs at that cardinality, and the recommendation (columns under
    * [[BloomDictCutoff]] distincts get 'dict' — the dictionary page
    * already prunes). The write-path twin of §2.118's READ-side bloom
    * prefilter: at 100 TB the decision "which columns carry blooms,
    * at what size" is made once per layout, from exactly this frame.
    *
    * Scale shape: one stack projection → (col, value)-grain map-side
    * combined groupBy → col-grain re-aggregate; the reduce side is
    * bounded by Σ ndv, the plan frame by the column count. No
    * count(DISTINCT) expand, no per-column scans.
    *
    * Determinism: counts exact integers; bits = ceil(ndv · literal)
    * is ONE product of an exact integer by a shared literal (the
    * engines cannot disagree); bytes/k all-integer from there. */
  def bloomPlan(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.lineitem(spark, dir)
      .select(expr("stack(3, 'l_orderkey', l_orderkey, " +
        "'l_partkey', l_partkey, 'l_suppkey', l_suppkey)")
        .as(Seq("col_name", "v")))
      .groupBy("col_name", "v").agg(count(lit(1)).as("c"))
    cells.groupBy("col_name").agg(
      sum("c").as("n_rows"), count(lit(1)).as("n_distinct"))
      .withColumn("bloom_bits",
        ceil(col("n_distinct") * lit(BloomBitsPerKey)).cast("long"))
      .withColumn("bloom_bytes", expr("(bloom_bits + 7) div 8"))
      .withColumn("k_hashes", lit(BloomHashes))
      .withColumn("recommend",
        when(col("n_distinct") <= BloomDictCutoff, "dict")
          .otherwise("bloom"))
      .orderBy("col_name")
  }

  val bloomPlanSql: String =
    s"""WITH cells AS (SELECT col_name, v, count(*) AS c FROM (
       |    SELECT 'l_orderkey' AS col_name, l_orderkey AS v FROM lineitem
       |    UNION ALL
       |    SELECT 'l_partkey' AS col_name, l_partkey AS v FROM lineitem
       |    UNION ALL
       |    SELECT 'l_suppkey' AS col_name, l_suppkey AS v FROM lineitem) t
       |  GROUP BY 1, 2),
       |agg AS (SELECT col_name, CAST(sum(c) AS BIGINT) AS n_rows,
       |    count(*) AS n_distinct
       |  FROM cells GROUP BY 1)
       |SELECT col_name, n_rows, n_distinct,
       |  CAST(ceil(n_distinct * $BloomBitsPerKey) AS BIGINT) AS bloom_bits,
       |  (CAST(ceil(n_distinct * $BloomBitsPerKey) AS BIGINT) + 7) // 8
       |    AS bloom_bytes,
       |  CAST($BloomHashes AS BIGINT) AS k_hashes,
       |  CASE WHEN n_distinct <= $BloomDictCutoff THEN 'dict'
       |    ELSE 'bloom' END AS recommend
       |FROM agg ORDER BY col_name""".stripMargin

  /** Partition-count guard rails for [[partitionPlan]]: a Hive-style
    * partition column wants enough partitions to prune usefully but
    * not so many that the metastore and small files drown the win,
    * and no single partition holding most of the table. */
  val PartMinParts = 8L
  val PartMaxParts = 10000L

  /** §2.292 `partition_plan`: Hive-partition-column advisor — for
    * each candidate (documents.source, documents.lang,
    * events.event_type, orders by month), the partition count, row
    * balance (max/min/share-of-largest), and the verdict:
    * 'too_coarse' (< [[PartMinParts]] partitions — pruning buys
    * little), 'too_fine' (> [[PartMaxParts]] — metastore/small-file
    * explosion), 'skewed' (largest partition holds > half the rows —
    * a hot partition nullifies pruning AND breaks task balance), else
    * 'ok'. §2.275 sizes files WITHIN a layout; this op picks the
    * directory key the layout hangs on — the decision a 100 TB lake
    * makes exactly once, with this table in front of it.
    *
    * Scale shape: per candidate ONE value-grain map-side-combined
    * groupBy, then a candidate-grain re-aggregate; the union of the
    * four 1-row reports is the output. All counts exact integers;
    * max_share is the single final division, rounded 6 dp. */
  def partitionPlan(spark: SparkSession, dir: String): DataFrame = {
    def audit(df: DataFrame, cand: String, keyCol: Column): DataFrame =
      df.select(keyCol.cast("string").as("k"))
        .groupBy("k").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_partitions"), sum("c").as("n_rows"),
          max("c").as("max_rows"), min("c").as("min_rows"))
        .select(lit(cand).as("candidate"), col("n_partitions"),
          col("n_rows"), col("max_rows"), col("min_rows"))
    val docs = Tables.documents(spark, dir)
    val reports =
      audit(docs, "documents.source", col("source"))
        .unionAll(audit(docs, "documents.lang", col("lang")))
        .unionAll(audit(Tables.events(spark, dir), "events.event_type",
          col("event_type")))
        .unionAll(audit(Tables.orders(spark, dir), "orders.o_month",
          date_format(col("o_orderdate"), "yyyy-MM")))
    reports
      .withColumn("max_share",
        round(col("max_rows").cast("double") / col("n_rows"), 6))
      .withColumn("verdict",
        when(col("n_partitions") < PartMinParts, "too_coarse")
          .when(col("n_partitions") > PartMaxParts, "too_fine")
          .when(col("max_rows") * 2 > col("n_rows"), "skewed")
          .otherwise("ok"))
      .orderBy("candidate")
  }

  /** n_chars predicate thresholds audited by [[pruneStats]] — spread
    * across the corpus's length distribution (roughly the median, p75,
    * p90 and the upper tail) so every row of the report carries a
    * non-degenerate selectivity. */
  val PruneThresholds: Seq[Long] = Seq(200L, 300L, 420L, 500L)

  /** §2.293 `prune_stats`: min/max data-skipping effectiveness audit —
    * the documents corpus packed into §2.275 shards under TWO layouts
    * (natural doc_id order vs range-sorted by n_chars), then each
    * `n_chars >= P` predicate in [[PruneThresholds]] replayed against
    * the per-shard min/max footer stats: shards pruned, rows scanned,
    * rows actually matching, scan efficiency. This MEASURES what
    * §2.78's range-sorted write buys: on the natural layout every
    * shard straddles the predicate (efficiency = selectivity); on the
    * sorted layout the scan reads almost only matching rows — the
    * number that justifies (or rejects) a 100 TB re-sort before
    * anyone pays for it.
    *
    * Scale shape: two per-source sequential windows (one per layout —
    * the §2.275 packing pass), shard-grain stats, a ×|thresholds|
    * unpivot at SHARD grain, and a (layout, threshold)-grain report.
    * All counts exact integers; efficiency is one division. */
  def pruneStats(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
    def packed(layout: String, ord: Seq[Column]): DataFrame = {
      val w = Window.partitionBy("source").orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val aggs = Seq(count(lit(1)).as("n_docs"),
        max("n_chars").as("max_chars")) ++
        PruneThresholds.map(p =>
          sum(when(col("n_chars") >= p, 1L).otherwise(0L)).as(s"m$p"))
      base.withColumn("cum", sum("n_chars").over(w))
        .withColumn("shard_id", expr(s"(cum - 1) div $ShardTargetChars"))
        .groupBy("source", "shard_id").agg(aggs.head, aggs.tail: _*)
        .withColumn("layout", lit(layout))
    }
    val shards = packed("natural", Seq(col("doc_id")))
      .unionByName(packed("sorted_chars", Seq(col("n_chars"), col("doc_id"))))
    val stackExpr = PruneThresholds
      .map(p => s"${p}L, m$p").mkString(s"stack(${PruneThresholds.size}, ", ", ", ")")
    shards
      .select(col("layout"), col("n_docs"), col("max_chars"),
        expr(stackExpr).as(Seq("threshold", "m")))
      .groupBy("layout", "threshold").agg(
        count(lit(1)).as("shards_total"),
        sum(when(col("max_chars") < col("threshold"), 1L).otherwise(0L))
          .as("shards_pruned"),
        sum("n_docs").as("rows_total"),
        sum(when(col("max_chars") >= col("threshold"), col("n_docs"))
          .otherwise(0L)).as("rows_scanned"),
        sum("m").as("rows_match"))
      .withColumn("scan_efficiency",
        when(col("rows_scanned") === 0L, lit(1.0)).otherwise(
          round(col("rows_match").cast("double") / col("rows_scanned"), 6)))
      .orderBy("layout", "threshold")
  }

  val pruneStatsSql: String = {
    def layoutCte(name: String, ord: String): String =
      s"""SELECT '$name' AS layout, source, (cum - 1) // $ShardTargetChars
         |    AS shard_id, n_chars,
         |    ${PruneThresholds.map(p =>
                s"CASE WHEN n_chars >= $p THEN 1 ELSE 0 END AS m$p")
               .mkString(", ")}
         |  FROM (SELECT source, doc_id, n_chars,
         |      CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY $ord
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |        AS BIGINT) AS cum
         |    FROM documents) t""".stripMargin
    val shardAgg =
      s"""SELECT layout, source, shard_id, count(*) AS n_docs,
         |    max(n_chars) AS max_chars,
         |    ${PruneThresholds.map(p =>
                s"CAST(sum(m$p) AS BIGINT) AS mm$p").mkString(", ")}
         |  FROM both_layouts GROUP BY 1, 2, 3""".stripMargin
    val unpiv = PruneThresholds.map(p =>
      s"""SELECT layout, CAST($p AS BIGINT) AS threshold, n_docs,
         |  max_chars, mm$p AS m FROM shards""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH both_layouts AS (
       |${layoutCte("natural", "doc_id")}
       |UNION ALL
       |${layoutCte("sorted_chars", "n_chars, doc_id")}),
       |shards AS ($shardAgg),
       |unpiv AS ($unpiv),
       |rep AS (SELECT layout, threshold, count(*) AS shards_total,
       |    CAST(sum(CASE WHEN max_chars < threshold THEN 1 ELSE 0 END)
       |      AS BIGINT) AS shards_pruned,
       |    CAST(sum(n_docs) AS BIGINT) AS rows_total,
       |    CAST(sum(CASE WHEN max_chars >= threshold THEN n_docs ELSE 0 END)
       |      AS BIGINT) AS rows_scanned,
       |    CAST(sum(m) AS BIGINT) AS rows_match
       |  FROM unpiv GROUP BY 1, 2)
       |SELECT layout, threshold, shards_total, shards_pruned, rows_total,
       |  rows_scanned, rows_match,
       |  CASE WHEN rows_scanned = 0 THEN 1.0
       |    ELSE round(CAST(rows_match AS DOUBLE) / rows_scanned, 6)
       |  END AS scan_efficiency
       |FROM rep ORDER BY layout, threshold""".stripMargin
  }

  /** Candidate watermark delays (whole minutes) audited by
    * [[watermarkPlan]]. */
  val WatermarkCandidates: Seq[Long] = Seq(30L, 60L, 240L, 720L, 1440L)

  /** §2.297 `watermark_plan`: out-of-orderness audit behind a
    * Structured Streaming watermark choice — replays the event stream
    * under a day-batched, user-sharded arrival order (each ingest day
    * lands as 32 per-user-shard upload batches — the mobile/device
    * upload pattern where a shard's whole day arrives at once), advances the event-time
    * watermark exactly as the engine would (max event time of all
    * PRIOR batches), and measures each event's lateness against it;
    * then each candidate delay in [[WatermarkCandidates]] gets the
    * row count it would DROP. §2.33/85's streaming ops consume a
    * watermark; this op is where the number comes from — at 100 TB
    * "withWatermark('10 minutes')" is a measured decision, not a
    * guess.
    *
    * Scale shape: one batch-grain aggregate (days×32 rows — calendar-
    * bounded, not corpus-proportional), a running max over that bounded frame, a broadcast join
    * back to the scan, ONE minute-grid cell aggregate (bounded by the
    * observed lateness range), and a candidates×cells report join.
    *
    * Determinism: all-integer microseconds end-to-end (ns→µs floor on
    * both engines); the minute grid is integer division; drop rule is
    * late_min > W on the shared grid; share is one final division. */
  def watermarkPlan(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(unix_micros(col("ts")).as("tsu"),
        (datediff(to_date(col("ts")), lit(java.sql.Date.valueOf("1970-01-01")))
          .cast("long") * 32L + col("user_id") % 32L).as("b"))
    val wPrior = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bw = ev.groupBy("b").agg(max("tsu").as("bmax"))
      .withColumn("wm", max("bmax").over(wPrior))
    val cells = ev.join(broadcast(bw.select("b", "wm")), "b")
      .select(expr(
        "greatest(0L, coalesce(wm - tsu, 0L)) div 60000000").as("late_min"))
      .groupBy("late_min").agg(count(lit(1)).as("c"))
    val cand = spark.sql("SELECT * FROM VALUES " +
      WatermarkCandidates.map(w => s"(CAST($w AS BIGINT))").mkString(",") +
      " AS t(wm_minutes)")
    cand.crossJoin(broadcast(cells))
      .groupBy("wm_minutes").agg(
        sum("c").as("n_events"),
        sum(when(col("late_min") > col("wm_minutes"), col("c"))
          .otherwise(0L)).as("n_dropped"),
        max("late_min").as("max_late_min"))
      .withColumn("drop_share",
        round(col("n_dropped").cast("double") / col("n_events"), 6))
      .orderBy("wm_minutes")
  }

  val watermarkPlanSql: String = {
    val cand = WatermarkCandidates
      .map(w => s"(CAST($w AS BIGINT))").mkString(", ")
    s"""WITH ev AS (SELECT
       |    epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
       |    CAST((CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01')
       |      AS BIGINT) * 32 + user_id % 32 AS b
       |  FROM events),
       |bw AS (SELECT b,
       |    max(max_tsu) OVER (ORDER BY b
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm
       |  FROM (SELECT b, max(tsu) AS max_tsu FROM ev GROUP BY b) t),
       |cells AS (SELECT
       |    greatest(0, COALESCE(wm - tsu, 0)) // 60000000 AS late_min,
       |    count(*) AS c
       |  FROM ev JOIN bw USING (b) GROUP BY 1)
       |SELECT wm_minutes,
       |  CAST(sum(c) AS BIGINT) AS n_events,
       |  CAST(sum(CASE WHEN late_min > wm_minutes THEN c ELSE 0 END)
       |    AS BIGINT) AS n_dropped,
       |  CAST(max(late_min) AS BIGINT) AS max_late_min,
       |  round(CAST(sum(CASE WHEN late_min > wm_minutes THEN c ELSE 0 END)
       |    AS DOUBLE) / sum(c), 6) AS drop_share
       |FROM (VALUES $cand) w(wm_minutes) CROSS JOIN cells
       |GROUP BY wm_minutes ORDER BY wm_minutes""".stripMargin
  }

  val partitionPlanSql: String = {
    def audit(table: String, cand: String, keyExpr: String): String =
      s"""SELECT '$cand' AS candidate, count(*) AS n_partitions,
         |  CAST(sum(c) AS BIGINT) AS n_rows,
         |  CAST(max(c) AS BIGINT) AS max_rows,
         |  CAST(min(c) AS BIGINT) AS min_rows
         |FROM (SELECT CAST($keyExpr AS VARCHAR) AS k, count(*) AS c
         |      FROM $table GROUP BY 1) cells""".stripMargin
    val union = Seq(
      audit("documents", "documents.source", "source"),
      audit("documents", "documents.lang", "lang"),
      audit("events", "events.event_type", "event_type"),
      audit("orders", "orders.o_month",
        "strftime(o_orderdate, '%Y-%m')")).mkString("\nUNION ALL\n")
    s"""WITH reports AS ($union)
       |SELECT candidate, n_partitions, n_rows, max_rows, min_rows,
       |  round(CAST(max_rows AS DOUBLE) / n_rows, 6) AS max_share,
       |  CASE WHEN n_partitions < $PartMinParts THEN 'too_coarse'
       |    WHEN n_partitions > $PartMaxParts THEN 'too_fine'
       |    WHEN max_rows * 2 > n_rows THEN 'skewed'
       |    ELSE 'ok' END AS verdict
       |FROM reports ORDER BY candidate""".stripMargin
  }

  /** Shard count for [[zorderStats]] — 64 range buckets per layout. */
  val ZShards = 64L

  /** 16-bit Morton interleave as engine-portable integer arithmetic:
    * x lands on odd bits, y on even. `divOp` is `div` (Spark SQL) or
    * `//` (DuckDB); the expansion is pure power-of-two div/mod/mul, so
    * both engines compute identical BIGINTs. */
  def mortonExpr(x: String, y: String, divOp: String): String =
    (0 until 16).map { i =>
      val bit = 1L << i
      s"(($x $divOp $bit) % 2) * ${1L << (2 * i + 1)}" +
        s" + (($y $divOp $bit) % 2) * ${1L << (2 * i)}"
    }.mkString(" + ")

  /** §2.308 `zorder_stats`: Z-order vs linear-sort vs natural layout
    * audit for TWO-dimensional predicate pruning — the lineitem corpus
    * range-bucketed into [[ZShards]] shards under three layouts
    * (natural orderkey ranges; partkey-sorted; Morton-interleaved
    * (partkey, suppkey)), then two 2-D box predicates (a 10%×10% and a
    * 30%×30% slice of both key domains) replayed against per-shard
    * min/max footer stats. §2.293 proves single-column sorting wins on
    * ONE predicate dimension; this measures the multi-dimensional
    * claim behind §2.92's Z-order write: a partkey sort prunes partkey
    * boxes but scans every suppkey, while the Morton curve prunes BOTH
    * — the table that justifies (or rejects) interleaved clustering
    * before a 100 TB rewrite.
    *
    * Scale shape: shard ids are PURE EXPRESSIONS (equal-width ranges
    * over the normalized key / the Morton code / the dense orderkey) —
    * range-partitioned writes, NO global sort, no row_number anywhere;
    * ONE row-level 3-way stack → ONE map-side-combined groupBy to
    * ≤3·[[ZShards]] shard-footer rows; the box replay is arithmetic on
    * that bounded frame. Key-domain maxima are a 1-row broadcast.
    *
    * Determinism: all-integer — 16-bit normalization and box bounds
    * by floor division, the Morton code via [[mortonExpr]], overlap
    * tests integer compares; efficiency is the single final division. */
  def zorderStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"),
        col("l_suppkey").as("s"))
    val maxes = li.agg(max("o").as("maxo"), max("p").as("maxp"),
      max("s").as("maxs"))
    // keys are 0-based dense; div by (max+1) keeps px/py in [0, 65536)
    // with NO negative operand anywhere (negative % / bit extraction is
    // where engine semantics and two's-complement replays diverge)
    val rows = li.crossJoin(broadcast(maxes))
      .withColumn("px", expr("p * 65536 div (maxp + 1)"))
      .withColumn("py", expr("s * 65536 div (maxs + 1)"))
      .withColumn("mz", expr(mortonExpr("px", "py", "div")))
      .withColumn("sh_nat", least(lit(ZShards - 1),
        expr(s"o * $ZShards div (maxo + 1)")))
      .withColumn("sh_sort", expr(s"px div ${65536L / ZShards}"))
      .withColumn("sh_z", expr(s"mz div ${4294967296L / ZShards}"))
      .withColumn("m_narrow",
        when(col("p") > expr("maxp * 2 div 10") &&
          col("p") <= expr("maxp * 3 div 10") &&
          col("s") > expr("maxs * 2 div 10") &&
          col("s") <= expr("maxs * 3 div 10"), 1L).otherwise(0L))
      .withColumn("m_wide",
        when(col("p") > expr("maxp * 2 div 10") &&
          col("p") <= expr("maxp * 5 div 10") &&
          col("s") > expr("maxs * 2 div 10") &&
          col("s") <= expr("maxs * 5 div 10"), 1L).otherwise(0L))
    // bounded (3 layouts × shards) but derived from a corpus scan; two
    // boxed() consumers — one materialization (r13)
    val shards = graft.Barrier("layout.shards", rows
      .select(col("p"), col("s"), col("m_narrow"), col("m_wide"),
        expr("stack(3, 'natural', sh_nat, 'sorted_part', sh_sort, " +
          "'zorder', sh_z)").as(Seq("layout", "shard")))
      .groupBy("layout", "shard").agg(
        count(lit(1)).as("n"),
        min("p").as("p_min"), max("p").as("p_max"),
        min("s").as("s_min"), max("s").as("s_max"),
        sum("m_narrow").as("mn"), sum("m_wide").as("mw"))
      .crossJoin(broadcast(maxes)))
    def boxed(box: String, hiTenths: Int, m: Column): DataFrame =
      shards.select(col("layout"), lit(box).as("box"), col("n"),
        col("p_min"), col("p_max"), col("s_min"), col("s_max"),
        m.as("m"),
        expr("maxp * 2 div 10").as("plo"),
        expr(s"maxp * $hiTenths div 10").as("phi"),
        expr("maxs * 2 div 10").as("slo"),
        expr(s"maxs * $hiTenths div 10").as("shi"))
    val scanned = (col("p_max") > col("plo")) &&
      (col("p_min") <= col("phi")) &&
      (col("s_max") > col("slo")) && (col("s_min") <= col("shi"))
    boxed("narrow", 3, col("mn")).unionByName(boxed("wide", 5, col("mw")))
      .groupBy("layout", "box").agg(
        count(lit(1)).as("shards_total"),
        sum(when(scanned, 1L).otherwise(0L)).as("shards_scanned"),
        sum("n").as("rows_total"),
        sum(when(scanned, col("n")).otherwise(0L)).as("rows_scanned"),
        sum("m").as("rows_match"))
      .withColumn("scan_efficiency",
        when(col("rows_scanned") === 0L, lit(1.0)).otherwise(
          round(col("rows_match").cast("double") / col("rows_scanned"), 6)))
      .orderBy("layout", "box")
  }

  val zorderStatsSql: String = {
    val mz = mortonExpr("px", "py", "//")
    s"""WITH maxes AS (SELECT max(l_orderkey) AS maxo, max(l_partkey) AS maxp,
       |    max(l_suppkey) AS maxs FROM lineitem),
       |rows_n AS (SELECT l_orderkey AS o, l_partkey AS p, l_suppkey AS s,
       |    l_partkey * 65536 // (maxp + 1) AS px,
       |    l_suppkey * 65536 // (maxs + 1) AS py,
       |    maxo, maxp, maxs
       |  FROM lineitem CROSS JOIN maxes),
       |rows_m AS (SELECT o, p, s, px, py, maxo, maxp, maxs,
       |    $mz AS mz,
       |    CASE WHEN p > maxp * 2 // 10 AND p <= maxp * 3 // 10
       |      AND s > maxs * 2 // 10 AND s <= maxs * 3 // 10
       |      THEN 1 ELSE 0 END AS m_narrow,
       |    CASE WHEN p > maxp * 2 // 10 AND p <= maxp * 5 // 10
       |      AND s > maxs * 2 // 10 AND s <= maxs * 5 // 10
       |      THEN 1 ELSE 0 END AS m_wide
       |  FROM rows_n),
       |stacked AS (
       |  SELECT 'natural' AS layout,
       |    least(${ZShards - 1}, o * $ZShards // (maxo + 1)) AS shard,
       |    p, s, m_narrow, m_wide FROM rows_m
       |  UNION ALL
       |  SELECT 'sorted_part', px // ${65536L / ZShards}, p, s,
       |    m_narrow, m_wide FROM rows_m
       |  UNION ALL
       |  SELECT 'zorder', mz // ${4294967296L / ZShards}, p, s,
       |    m_narrow, m_wide FROM rows_m),
       |shards AS (SELECT layout, shard, count(*) AS n,
       |    min(p) AS p_min, max(p) AS p_max,
       |    min(s) AS s_min, max(s) AS s_max,
       |    CAST(sum(m_narrow) AS BIGINT) AS mn,
       |    CAST(sum(m_wide) AS BIGINT) AS mw
       |  FROM stacked GROUP BY 1, 2),
       |boxed AS (
       |  SELECT layout, 'narrow' AS box, n, p_min, p_max, s_min, s_max,
       |    mn AS m, maxp * 2 // 10 AS plo, maxp * 3 // 10 AS phi,
       |    maxs * 2 // 10 AS slo, maxs * 3 // 10 AS shi
       |  FROM shards CROSS JOIN maxes
       |  UNION ALL
       |  SELECT layout, 'wide', n, p_min, p_max, s_min, s_max,
       |    mw, maxp * 2 // 10, maxp * 5 // 10,
       |    maxs * 2 // 10, maxs * 5 // 10
       |  FROM shards CROSS JOIN maxes),
       |rep AS (SELECT layout, box, count(*) AS shards_total,
       |    CAST(sum(CASE WHEN p_max > plo AND p_min <= phi
       |      AND s_max > slo AND s_min <= shi THEN 1 ELSE 0 END) AS BIGINT)
       |      AS shards_scanned,
       |    CAST(sum(n) AS BIGINT) AS rows_total,
       |    CAST(sum(CASE WHEN p_max > plo AND p_min <= phi
       |      AND s_max > slo AND s_min <= shi THEN n ELSE 0 END) AS BIGINT)
       |      AS rows_scanned,
       |    CAST(sum(m) AS BIGINT) AS rows_match
       |  FROM boxed GROUP BY 1, 2)
       |SELECT layout, box, shards_total, shards_scanned, rows_total,
       |  rows_scanned, rows_match,
       |  CASE WHEN rows_scanned = 0 THEN 1.0
       |    ELSE round(CAST(rows_match AS DOUBLE) / rows_scanned, 6)
       |  END AS scan_efficiency
       |FROM rep ORDER BY layout, box""".stripMargin
  }
  /** User-hash bucket count for [[upsertAmplification]] — the lake
    * table's clustering width. */
  val UpsertBuckets = 32L

  /** §2.315 `upsert_amplification`: copy-on-write write-amplification
    * audit — the event stream replayed as daily upsert batches into a
    * [[UpsertBuckets]]-bucket user-clustered table: per ingest day,
    * the batch size, buckets touched, and the rows a copy-on-write
    * writer REWRITES (every touched bucket's prior contents + the
    * batch) vs the rows merge-on-read APPENDS (just the batch), with
    * the running amplification ratio. §2.6 executes upserts; this
    * prices the table-format/clustering decision — at 100 TB a daily
    * batch touching every bucket turns CoW into a full-table rewrite
    * per day, and THIS table is how you see it before the bill.
    *
    * Scale shape: ONE (day, bucket) map-side-combined groupBy — the
    * cell frame is calendar×[[UpsertBuckets]]-bounded; prior bucket
    * sizes are per-bucket running windows over that bounded frame;
    * the day-grain report and the running ratio are windows over it.
    *
    * Determinism: all-integer row counts; the two ratios are single
    * divisions of identical integers, 6 dp. */
  def upsertAmplification(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"),
        (col("user_id") % UpsertBuckets).as("b"))
      .groupBy("day", "b").agg(count(lit(1)).as("c"))
    val wPrior = Window.partitionBy("b").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val marked = cells
      .withColumn("prior", coalesce(sum("c").over(wPrior), lit(0L)))
    val days = marked.groupBy("day").agg(
      sum("c").as("batch_rows"),
      count(lit(1)).as("buckets_touched"),
      sum(col("prior") + col("c")).as("rows_rewritten_cow"))
    val wCum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    days
      .withColumn("write_amp_cow", round(
        col("rows_rewritten_cow").cast("double") / col("batch_rows"), 6))
      .withColumn("cum_amp_cow", round(
        sum("rows_rewritten_cow").over(wCum).cast("double") /
          sum("batch_rows").over(wCum), 6))
      .select(col("day").cast("timestamp").as("day"), col("batch_rows"),
        col("buckets_touched"), col("rows_rewritten_cow"),
        col("write_amp_cow"), col("cum_amp_cow"))
      .orderBy("day")
  }

  val upsertAmplificationSql: String =
    s"""WITH cells AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
       |    user_id % $UpsertBuckets AS b, count(*) AS c
       |  FROM events GROUP BY 1, 2),
       |marked AS (SELECT day, b, c,
       |    coalesce(CAST(sum(c) OVER (PARTITION BY b ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
       |      0) AS prior
       |  FROM cells),
       |days AS (SELECT day, CAST(sum(c) AS BIGINT) AS batch_rows,
       |    count(*) AS buckets_touched,
       |    CAST(sum(prior + c) AS BIGINT) AS rows_rewritten_cow
       |  FROM marked GROUP BY 1)
       |SELECT CAST(day AS TIMESTAMP) AS day, batch_rows, buckets_touched,
       |  rows_rewritten_cow,
       |  round(CAST(rows_rewritten_cow AS DOUBLE) / batch_rows, 6)
       |    AS write_amp_cow,
       |  round(CAST(sum(rows_rewritten_cow) OVER (ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    / CAST(sum(batch_rows) OVER (ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT), 6)
       |    AS cum_amp_cow
       |FROM days ORDER BY day""".stripMargin

}
