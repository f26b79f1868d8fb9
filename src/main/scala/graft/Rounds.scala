package graft

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{count => countRows, lit, when}
import scala.collection.mutable.ArrayBuffer

/** The one converge loop of the library. `Rounds(name, init, maxRounds)`
  * cuts round k as `step(round k-1, round)` from round 0 = `init`, each an
  * eager [[Barrier]] named `name`. Round k's jobs run under the call site
  * `name.r<k>`, so their stages carry that name in a query's record; a
  * round's cut is released once the next one is cut.
  *
  * Convergence comes from the cut's own job: `step` marks rows with
  * `round.count`, a Dataset observation that completes with the eager
  * checkpoint, so no `count()` or `except` job runs. (On a lazy cut the
  * observation would complete before the rows are computed and read 0,
  * which is why only this object observes.)
  */
object Rounds {

  // Spark's key for the short call site, which names a job's stages
  private val CallSiteKey = "callSite.short"

  /** The round being built: the counts `step` marks, read once its cut ran. */
  final class Round private[Rounds] (val name: String) {
    private val marks = ArrayBuffer.empty[Observation]

    /** `df`, counting its rows where `cond` holds into this round's signal. */
    def count(df: DataFrame, cond: Column): DataFrame = {
      val o = Observation(s"$name.${marks.size}")
      marks += o
      df.observe(o, countRows(when(cond, 1)).as("n"))
    }

    // a subtree AQE pruned as empty reports no key: it counted no row
    private[Rounds] def signal: Long =
      marks.map(_.get.get("n").fold(0L)(_.asInstanceOf[Long])).sum
  }

  /** Run the loop until a round's signal `settled(previous, signal)`:
    * by default, until a round moves no row. Round 0's signal is `init`'s
    * row count: `initRows` when the caller already has it (`init` is then
    * read as it is), else counted by cutting `init` as round 0. An empty
    * `init` settles at 0 rounds. Returns the last cut, which the caller's
    * owner releases, and the rounds run, -1 when `maxRounds` ran out
    * first. */
  def apply(name: String, init: DataFrame, maxRounds: Int,
      settled: (Long, Long) => Boolean = (_, moved) => moved == 0,
      initRows: Option[Long] = None)(
      step: (DataFrame, Round) => DataFrame): (DataFrame, Int) = {
    def cut(k: Int)(frame: Round => DataFrame): (DataFrame, Long) = {
      val sc = init.sparkSession.sparkContext
      val prior = sc.getLocalProperty(CallSiteKey)
      sc.setCallSite(s"$name.r$k")
      try {
        val round = new Round(s"$name.r$k")
        val b = Barrier(name, frame(round), eager = true)
        (b, round.signal)
      } finally sc.setLocalProperty(CallSiteKey, prior)
    }
    @annotation.tailrec
    def loop(cur: DataFrame, signal: Long, k: Int): (DataFrame, Int) =
      if (k == maxRounds) (cur, -1)
      else {
        val (next, s) = cut(k + 1)(step(cur, _))
        if (cur ne init) Barrier.release(cur) // an uncut init is not ours
        if (settled(signal, s)) (next, k + 1) else loop(next, s, k + 1)
      }
    val (first, rows) = initRows.map((init, _))
      .getOrElse(cut(0)(_.count(init, lit(true))))
    if (rows == 0) (first, 0) else loop(first, rows, 0)
  }
}
