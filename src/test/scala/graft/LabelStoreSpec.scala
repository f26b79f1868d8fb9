package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.{ClusterStats, Pipeline, Splits}

/** §2 VERDICT-r08 #4: the persisted cluster-label table contract.
  * A crawl-scale pipeline derives labels ONCE (MinHash + CC) and
  * persists them bucketed by doc_id; every gate op that consumes
  * labels (make_splits, cluster_size_dist, quality_dup_bias,
  * dedup_keep_best) must produce BYTE-IDENTICAL output whether it
  * recomputes or reads the table — and the table side of a label⋈doc
  * join must come off its bucketed layout without an exchange. */
class LabelStoreSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf, withConf, withTable}

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case d: Double => math.rint(d * 1e9) / 1e9
      case v => v
    }).toSeq.sortBy(_.mkString("|"))

  test("gate ops read the persisted label table; output identical to recomputed") {
    withTable("graft_labels_spec") {
      assert(spark.conf.getOption("spark.graft.labels.table").isEmpty)
      val recomputedLabels = rows(Pipeline.dedupClustersCached(spark, sf))
      val base = Map(
        "make_splits" -> rows(Splits.makeSplits(spark, sf)),
        "cluster_size_dist" -> rows(ClusterStats.clusterSizeDist(spark, sf)),
        "quality_dup_bias" -> rows(ClusterStats.qualityDupBias(spark, sf)),
        "dedup_keep_best" -> rows(Pipeline.dedupKeepBest(spark, sf)))
      Pipeline.writeLabels(spark, sf, "graft_labels_spec", numBuckets = 4)
      withConf("spark.graft.labels.table" -> "graft_labels_spec") {
        // the cached accessor now serves the table, not the memo
        assert(rows(Pipeline.persistedLabels(spark).get) == recomputedLabels)
        assert(rows(Pipeline.dedupClustersCached(spark, sf)) == recomputedLabels)
        for ((name, want) <- base) {
          val got = name match {
            case "make_splits" => rows(Splits.makeSplits(spark, sf))
            case "cluster_size_dist" => rows(ClusterStats.clusterSizeDist(spark, sf))
            case "quality_dup_bias" => rows(ClusterStats.qualityDupBias(spark, sf))
            case "dedup_keep_best" => rows(Pipeline.dedupKeepBest(spark, sf))
          }
          assert(got == want, s"$name diverged under the persisted label table")
        }
      }
    }
  }

  test("label⋈doc join reads the bucketed table without an exchange on the label side") {
    withTable("graft_labels_spec2") {
      Pipeline.writeLabels(spark, sf, "graft_labels_spec2", numBuckets = 4)
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val joined = Tables.documents(spark, sf).select(col("doc_id"), col("lang"))
          .join(spark.table("graft_labels_spec2"), "doc_id")
        assert(joined.collect().length > 0)
        val plan = joined.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
        assert(exchanges == 1, s"want 1 exchange (doc side only), got $exchanges:\n$plan")
        assert(plan.contains("Bucketed: true"),
          s"label side must read its bucketed layout:\n$plan")
      }
    }
  }
}
