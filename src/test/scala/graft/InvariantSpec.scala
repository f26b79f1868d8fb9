package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.InvariantCheck

/** The sf1 scale-verification invariants (tools/InvariantCheck) run at
  * sf0.001 on every test pass, so the checker itself is continuously
  * verified against data the DuckDB oracle also fully replays — at sf1
  * the same checks stand in for the infeasible >25-min replays of the
  * 5 iterative operators. */
class InvariantSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}

  private def assertAll(rs: Seq[InvariantCheck.Res]): Unit = {
    val bad = rs.filterNot(_.pass)
    assert(bad.isEmpty, bad.map(r => s"${r.name}: ${r.detail}").mkString("; "))
    // the forked JVM prints non-ASCII as '?'
    val garbled = rs.filterNot(r => (r.name + r.detail).forall(_ < 128))
    assert(garbled.isEmpty, garbled.map(r => s"${r.name}: ${r.detail}").mkString("; "))
  }

  // one case per family `InvariantCheck.runAll` runs
  for ((name, family) <- Seq[(String, (SparkSession, String) => Seq[InvariantCheck.Res])](
      "connected-components + keep-best invariants hold at sf0.01" -> InvariantCheck.checkClusters,
      "IVF invariants hold at sf0.01" -> (InvariantCheck.checkIvf(_, _)),
      "BPE replay invariants hold at sf0.01" -> InvariantCheck.checkBpe,
      "semantic-dedup invariants hold at sf0.01" -> InvariantCheck.checkSemantic,
      "PageRank + label-propagation invariants hold at sf0.01" -> InvariantCheck.checkGraph,
      "bitext-mining invariants hold at sf0.01" -> InvariantCheck.checkBitext,
      "IVF-PQ invariants hold at sf0.01" -> (InvariantCheck.checkIvfPq(_, _)),
      "BFS invariants hold" -> InvariantCheck.checkBfs,
      "k-core invariants hold" -> InvariantCheck.checkKcore,
      "growth/sweep/concentration conservation laws hold" -> InvariantCheck.checkGrowth,
      "round-8 layout/dedup/normalize/split invariants hold" -> InvariantCheck.checkRound8,
      "round-8 third-push invariants hold (cuped/lift/prune/conformal/...)" ->
        InvariantCheck.checkRound8b,
      "round-8 power/shard/logrank/eval/split/zorder invariants hold" -> InvariantCheck.checkRound8c,
      "round-8 movers/loo/upsert invariants hold" -> InvariantCheck.checkRound8d,
      "round-8 hash/tail-risk/slo invariants hold" -> InvariantCheck.checkRound8e,
      "skyline quadratic-dominance invariant holds at sf0.01" -> InvariantCheck.checkSkyline,
      "fuzzy-match soundness + reversed-blocking completeness hold" -> InvariantCheck.checkFuzzy,
      "label-consumer replays hold (host_quality/splits/balance/bias)" ->
        InvariantCheck.checkRound12))
    test(name)(assertAll(family(spark, sf)))

  test("invariants detect a planted violation (checker is not vacuous)") {
    // corrupt one cluster label and confirm the edge/min checks would
    // catch it — guard against a checker that trivially passes
    import org.apache.spark.sql.functions._
    val prop = pipeline.Pipeline.dedupClustersCached(spark, sf)
    val corrupted = prop.withColumn("cluster_id",
      when(col("doc_id") === col("cluster_id") && col("doc_id") > 0,
        col("cluster_id") + 1).otherwise(col("cluster_id")))
    val badMin = corrupted.groupBy("cluster_id").agg(min("doc_id").as("mn"))
      .filter(col("mn") =!= col("cluster_id")).count()
    assert(badMin > 0, "planted corruption must trip the min-member invariant")
  }

  test("round-12 checkers detect planted violations (not vacuous)") {
    import org.apache.spark.sql.functions._
    // skyline: a dominated point must fail the quadratic anti-join
    val o = Tables.orders(spark, sf)
    val byDate = o.groupBy(col("o_orderdate").as("d"))
      .agg(max("o_totalprice").as("p"))
    // plant: shift one non-minimal date's max DOWN so it is dominated,
    // then assert the dominance filter catches a frame that claims it
    // as frontier
    val planted = byDate.limit(2).withColumn("p", col("p") * 0.0001)
    val frontierOfPlanted = planted.as("a").join(byDate.as("b"),
      col("b.d") <= col("a.d") && col("b.p") >= col("a.p") &&
        (col("b.d") < col("a.d") || col("b.p") > col("a.p")), "left_semi")
    assert(frontierOfPlanted.count() > 0,
      "a price-squashed point must be detected as dominated")
    // make_splits: flipping one doc's split must trip the leak check
    val ms = pipeline.Splits.makeSplits(spark, sf)
    val corrupted = ms.withColumn("split",
      when(col("doc_id") === 0,
        when(col("split") === "train", "test").otherwise("train"))
        .otherwise(col("split")))
    val badRule = corrupted
      .withColumn("b2", pmod(text.TextFunctions.hash64(
        concat_ws(":", lit("mk"), col("cluster_id"))), lit(100)))
      .filter(col("split") =!= when(col("b2") < pipeline.Splits.TrainUpto, "train")
        .when(col("b2") < pipeline.Splits.ValUpto, "val").otherwise("test"))
      .count()
    assert(badRule > 0, "a flipped split must trip the hash-rule replay")
  }
}
