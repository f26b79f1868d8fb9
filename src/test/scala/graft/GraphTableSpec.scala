package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ann.GraphAnn

/** VERDICT-r11 #7: the persisted kNN-graph contract (the labels-table
  * precedent applied to ann_graph). The NN-Descent edge table is built
  * ONCE per corpus and persisted bucketed by `node`; beam search must
  * produce BYTE-IDENTICAL top-k whether it recomputes the graph or
  * reads the table, and the beam-hop edge join must come off the
  * bucketed layout without an exchange on the edge side. */
class GraphTableSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf, withConf, withTable}

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("ann_graph reads the persisted graph table; output identical to recomputed") {
    withTable("graft_graph_spec") {
      assert(spark.conf.getOption("spark.graft.graph.table").isEmpty)
      val emb = Tables.embeddings(spark, sf)
      val recomputed = rows(GraphAnn.graphTopK(emb))
      GraphAnn.writeGraph(spark, sf, "graft_graph_spec", numBuckets = 4)
      withConf("spark.graft.graph.table" -> "graft_graph_spec") {
        assert(GraphAnn.persistedGraph(spark).isDefined)
        // the persisted edge set IS the recomputed one
        val e1 = rows(spark.table("graft_graph_spec")
          .select(col("node"), col("nbr"), round(col("cs"), 6).as("c6")))
        val e2 = rows(GraphAnn.knnGraph(emb)
          .select(col("node"), col("nbr"), round(col("cs"), 6).as("c6")))
        assert(e1 == e2, "persisted edges diverged from recomputed edges")
        // and beam search over it answers identically
        assert(rows(GraphAnn.graphTopK(emb)) == recomputed,
          "ann_graph diverged under the persisted graph table")
      }
    }
  }

  test("beam-hop edge join reads the bucketed table without an edge-side exchange") {
    withTable("graft_graph_spec2") {
      GraphAnn.writeGraph(spark, sf, "graft_graph_spec2", numBuckets = 4)
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        // the hop shape: (probe rows) ⋈ edges on node
        val probe = spark.table("graft_graph_spec2").select(col("node")).limit(50)
        val joined = spark.table("graft_graph_spec2")
          .join(probe.hint("shuffle_hash"), Seq("node"))
        assert(joined.collect().length > 0)
        val plan = joined.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        assert(plan.contains("Bucketed: true"),
          s"edge side must read its bucketed layout:\n$plan")
      }
    }
  }
}
