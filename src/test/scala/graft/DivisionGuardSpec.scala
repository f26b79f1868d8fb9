package graft

import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r08 #9: the ANSI division-guard lint, as a runtime gate —
  * every registered query must fully materialize WITHOUT throwing on
  * the 1-row zero-variance single-arm corpus where every unguarded
  * zero-able denominator fires (Spark 4 ANSI errors on x/0 for every
  * numeric type, where the DuckDB oracle yields NULL). First run caught
  * three live bugs: bootstrap_ci (all-zero Poisson weights), chi2_terms
  * (single-language margin), embed_pca (zero-covariance NaN). Moving
  * from `count()` to a full materialization exposed 16 more, in columns
  * a `count()` prunes. */
class DivisionGuardSpec extends AnyFunSuite {
  import SparkTestSession.spark

  test("every query survives the degenerate 1-row corpus (no ANSI " +
       "divide-by-zero, no NaN rounding, no crash)") {
    val dir = graft.tools.DegenerateGate.writeCorpus(spark)
    val errs = graft.tools.DegenerateGate.run(spark, dir)
    assert(errs.isEmpty, errs.toSeq.sortBy(_._1)
      .map { case (n, e) => s"\n  $n: $e" }.mkString)
  }
}
