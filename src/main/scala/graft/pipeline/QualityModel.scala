package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Distributed logistic regression by batch gradient descent —
  * SURVEY.md §2 item 180.
  *
  * The trainable end of the quality pipeline: fastText/CCNet-style
  * corpora train a lightweight classifier on cheap per-doc signals and
  * use it as the keep/drop gate. Here: P(lang = 'en' | alpha_ratio,
  * stop_ratio, length_score) fit by [[Iters]] full-batch GD rounds —
  * no MLlib, just aggregates, so the training loop IS a Spark plan.
  *
  * Per round: ONE map-side-combined aggregate over the (cached)
  * feature frame computes the 4 gradient components; the weight vector
  * (4 doubles) rides the driver and re-broadcasts as literals — the
  * classic "small model, big data" shape that scales to any corpus
  * (model state is O(features), data passes are linear scans).
  *
  * Cross-engine determinism: each gradient component is ROUNDED to
  * 9 dp before the weight update on BOTH engines. Engine sum-order
  * noise is ~1e-14 relative, far under the 1e-9 grid, so the rounded
  * gradients — and every subsequent weight — are bit-identical; the
  * barrier stops FP drift from compounding across rounds (same
  * argument as PageRank's 6 dp compare, applied per-iteration). */
object QualityModel {

  val Iters = 3
  val Lr = 1.0

  /** (y, x1, x2, x3) per doc: en-label, alpha ratio, stopword ratio,
    * length score — the unrounded qualityFrame signals. */
  private def features(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextQueries.qualityFrame(Tables.documents(spark, dir))
      .select(
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
        round(col("_alpha"), 6).as("x1"),
        round(col("_stop"), 6).as("x2"),
        round(least(lit(1.0), col("n_tokens").cast("double") / 100.0), 6).as("x3"))

  private val featuresSql: String =
    s"""SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |  round(length(regexp_replace(text, '[^a-z]', '', 'g')) / length(text), 6) AS x1,
       |  round(len(list_filter(_toks, t -> t IN (${graft.text.TextQueries.stopListSql}))) / n_tokens, 6) AS x2,
       |  round(least(1.0, n_tokens / 100.0), 6) AS x3
       |FROM (SELECT lang, text, string_split_regex(trim(text), '\\s+') AS _toks,
       |        CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS n_tokens
       |      FROM documents) t""".stripMargin

  /** Final weights + training accuracy after [[Iters]] GD rounds. */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val f = graft.Barrier("quality.features", features(spark, dir), eager = true) // Iters+1 passes read blocks
    var w = Array(0.0, 0.0, 0.0, 0.0) // w0 (intercept), w1..w3
    for (_ <- 1 to Iters) {
      val z = lit(w(0)) + lit(w(1)) * col("x1") +
        lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
      val err = col("y") - lit(1.0) / (lit(1.0) + exp(-z))
      val g = f.agg(
        round(avg(err), 9).as("g0"),
        round(avg(err * col("x1")), 9).as("g1"),
        round(avg(err * col("x2")), 9).as("g2"),
        round(avg(err * col("x3")), 9).as("g3")).collect().head
      w = Array(w(0) + Lr * g.getDouble(0), w(1) + Lr * g.getDouble(1),
        w(2) + Lr * g.getDouble(2), w(3) + Lr * g.getDouble(3))
    }
    val z = lit(w(0)) + lit(w(1)) * col("x1") +
      lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
    f.agg(
      round(lit(w(0)), 9).as("w0"), round(lit(w(1)), 9).as("w1"),
      round(lit(w(2)), 9).as("w2"), round(lit(w(3)), 9).as("w3"),
      count(lit(1)).as("n_docs"),
      sum(when((z >= 0) === (col("y") === 1.0), 1L).otherwise(0L))
        .as("n_correct"))
  }

  val qualityClassifierSql: String = {
    // unrolled GD: itN is the 1-row weight frame after round N
    val rounds = (1 to Iters).map { t =>
      val p = t - 1
      s"""g$t AS (SELECT
         |    round(avg(y - 1.0 / (1.0 + exp(-(w0 + w1*x1 + w2*x2 + w3*x3)))), 9) AS g0,
         |    round(avg((y - 1.0 / (1.0 + exp(-(w0 + w1*x1 + w2*x2 + w3*x3)))) * x1), 9) AS g1,
         |    round(avg((y - 1.0 / (1.0 + exp(-(w0 + w1*x1 + w2*x2 + w3*x3)))) * x2), 9) AS g2,
         |    round(avg((y - 1.0 / (1.0 + exp(-(w0 + w1*x1 + w2*x2 + w3*x3)))) * x3), 9) AS g3
         |  FROM f, it$p),
         |it$t AS (SELECT w0 + $Lr * g0 AS w0, w1 + $Lr * g1 AS w1,
         |    w2 + $Lr * g2 AS w2, w3 + $Lr * g3 AS w3 FROM it$p, g$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH f AS ($featuresSql),
       |it0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
       |$rounds
       |SELECT round(w0, 9) AS w0, round(w1, 9) AS w1,
       |  round(w2, 9) AS w2, round(w3, 9) AS w3,
       |  count(*) AS n_docs,
       |  CAST(sum(CASE WHEN ((w0 + w1*x1 + w2*x2 + w3*x3) >= 0)
       |    = (y = 1.0) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
       |FROM f, it$Iters GROUP BY w0, w1, w2, w3""".stripMargin
  }
}
