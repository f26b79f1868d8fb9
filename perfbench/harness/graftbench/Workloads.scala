package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.etl.Loader

/** Where a run reads and writes: `lake` is the run's staged copy of the
  * generated lake, `staged` holds the seeded inputs made at set-up,
  * `out` is the run's own output directory. */
final case class Ctx(spark: SparkSession, lake: String, staged: String, out: String)

/** How an op's result is materialized: every row and column, through
  * the `noop` sink or through graft's own `Loader.write`. */
sealed trait Sink
case object Noop extends Sink
final case class LoaderWrite(dir: String, loadType: String) extends Sink

/** One operation: a call into a public graft function (`module` names
  * the `src/main/scala/graft/` package it lives in), then the
  * materialization of its result. `seeded` ops depend on the seeded
  * update batches, so their expected output is derived per run. */
final case class Op(name: String, module: String, sink: Sink = Noop,
    seeded: Boolean = false)(val call: Ctx => DataFrame)

/** A workload: the ops of one pass, in groups. The order of groups is
  * fixed (later groups consume what earlier ones wrote); the seed
  * shuffles the ops inside a group. */
final case class Workload(name: String, groups: Seq[Seq[Op]],
    stage: (SparkSession, Long, String, String) => Unit = (_, _, _, _) => ()) {
  def ops: Seq[Op] = groups.flatten
  def order(seed: Long): Seq[Op] = {
    // mixed first: java.util.Random's first draws from nearby seeds are
    // correlated, so consecutive seeds would share the last op
    val rnd = new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())
    groups.flatMap(g => rnd.shuffle(g))
  }
}

object Workloads {

  val Modules: Seq[String] = Seq("etl", "dq", "analytics", "text", "dedup", "ann",
    "graph", "pipeline", "multimodal", "streaming")

  /** A registered query (`SparkEntry.queries`) over the staged lake. */
  private def q(name: String, module: String, sink: Sink = Noop): Op =
    Op(name, module, sink)(c => SparkEntry.queries(name)(c.spark, c.lake))

  /** Latency-bound mix over every module, including the per-query
    * fixed-cost hot spots: the NN-Descent graph build, k-core peeling,
    * the star-label chain (whichever of its two ops runs first computes
    * the shared labels), containment, market basket, the manifest chain
    * and huber_mean with its pinned checkpoint. One group: the seed
    * orders each round freely. */
  val interactive: Workload = Workload("interactive_sf0.01", Seq(Seq(
    q("incremental_upsert", "etl"),
    q("dq_drift", "dq"),
    q("q3_join", "analytics"),
    q("market_basket", "analytics"),
    q("huber_mean", "analytics"),
    q("interevent_stats", "analytics"),
    q("text_tokens", "text"),
    q("dedup_containment", "dedup"),
    q("ann_lsh", "ann"),
    q("ann_graph", "ann"),
    q("graph_kcore", "graph"),
    q("dedup_clusters_star", "pipeline"),
    q("cluster_size_dist", "pipeline"),
    q("corpus_manifest", "pipeline"),
    q("mm_dedup", "multimodal"),
    q("sessionize", "streaming"))))

  /** Update batches for the medallion chain, made from the seed: each
    * batch re-prices a seeded tenth of the orders and inserts a seeded
    * hundredth as new keys. `_version` orders the lake's orders (0)
    * before batch 1 before batch 2. */
  val Batches = 2

  private def stageMedallion(spark: SparkSession, seed: Long, lake: String,
      staged: String): Unit = {
    val orders = graft.Tables.orders(spark, lake)
    val maxKey = orders.agg(max("o_orderkey")).head().getLong(0)
    for (k <- 1 to Batches) {
      def pick(salt: Int, mod: Int) =
        pmod(xxhash64(col("o_orderkey"), lit(seed), lit(k * 10 + salt)), lit(mod)) === 0
      val updated = orders.filter(pick(1, 10))
        .withColumn("o_totalprice", round(col("o_totalprice") + lit(100.0 * k), 2))
        .withColumn("o_orderpriority", lit(s"B$k-UPDATE"))
      val inserted = orders.filter(pick(2, 100))
        .withColumn("o_orderkey", col("o_orderkey") + lit(maxKey * k))
      updated.unionByName(inserted).withColumn("_version", lit(k))
        .write.mode("overwrite").parquet(s"$staged/batch_$k")
    }
  }

  private def batch(k: Int): Op =
    Op(s"load_batch_$k", "etl", LoaderWrite("batches", "batch"), seeded = true)(c =>
      c.spark.read.parquet(s"${c.staged}/batch_$k"))

  private def upsert(k: Int): Op =
    Op(s"upsert_$k", "etl", LoaderWrite(s"orders_$k", "full"), seeded = true) { c =>
      val base =
        if (k == 1) graft.Tables.orders(c.spark, c.lake).withColumn("_version", lit(0))
        else c.spark.read.parquet(s"${c.out}/orders_${k - 1}")
      Loader.upsert(base,
        c.spark.read.parquet(s"${c.staged}/batch_$k"), Seq("o_orderkey"), "_version")
    }

  /** Reference medallion chain: bronze → DQ → silver → seeded update
    * batches (append, upsert, compact) → history and load report →
    * gold reads. Only the gold reads are reordered by the seed. */
  val medallion: Workload = Workload("medallion_sf0.05", Seq(
    Seq(q("bronze_ingest", "etl", LoaderWrite("bronze", "full"))),
    Seq(q("dq_report", "etl")),
    Seq(q("medians_modes", "etl")),
    Seq(q("silver_dedup", "etl", LoaderWrite("silver_dedup", "full"))),
    Seq(q("silver_pipeline", "etl", LoaderWrite("silver", "full"))),
    Seq(batch(1)), Seq(upsert(1)), Seq(batch(2)), Seq(upsert(2)),
    Seq(Op("compact", "etl", seeded = true) { c =>
      Loader.compact(c.spark, s"${c.out}/batches")
      c.spark.read.parquet(s"${c.out}/batches")
    }),
    Seq(q("scd2_history", "etl")),
    Seq(q("load_report", "etl")),
    Seq(q("q1_agg", "analytics"), q("top_k", "analytics"), q("rollup_agg", "analytics"),
      q("time_series", "analytics"), q("gold_rollup", "etl"),
      q("percentiles", "analytics"))),
    stageMedallion)

  val all: Seq[Workload] = Seq(interactive, medallion)
}
