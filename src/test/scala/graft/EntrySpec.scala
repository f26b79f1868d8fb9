package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract-integrity guard: every SparkEntry query must fully
  * materialize at the smallest SF (catches scale-dependent failures
  * like under-k sketch indexing before the oracle gate does), and the
  * oracle map must stay consistent with the query map. */
class EntrySpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}

  test("oracleSql keys are a subset of queries keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle entries without queries: $extra")
  }

  test("every query has an oracle (rows-only checks are deliberate)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // residue gate: the query's scope and the memo caches give back every
  // RDD the query persisted
  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"query $name runs at sf0.001 with a non-empty schema") {
      SparkTestSession.releaseAll()
      val before = SparkTestSession.persistedIds
      val (result, _) = SparkEntry.run {
        val df = fn(spark, sf)
        assert(df.columns.nonEmpty)
        SparkEntry.materialize(df) // every row and column, not a pruned count()
      }
      Caches.clearAll()
      result.left.foreach(e => throw e)
      val left = SparkTestSession.persistedIds
      assert(left == before, s"persisted RDDs after $name: $left, before: $before")
    }
  }
}
