package graft.tools

import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import graft.SparkEntry

/** Whole-surface physical-plan gate (VERDICT r10 item 2): walks the
  * static plan of EVERY SparkEntry query and fails on the scale
  * anti-patterns the per-op specs assert piecemeal and PLANS.md was
  * audited for by eye:
  *
  *  - `CartesianProductExec` — always a defect (unkeyed all-pairs).
  *  - `BroadcastNestedLoopJoinExec` whose broadcast side is not
  *    provably bounded (all-paths-through-an-aggregate, see
  *    [[bounded]]) — a data-sized nested-loop broadcast is the
  *    round-9 fuzzy_match failure mode. The legitimate uses (1-row
  *    stat frames crossJoined onto a corpus) all broadcast aggregate
  *    outputs and pass the bound test.
  *  - `WindowExec`/`WindowGroupLimitExec` with an EMPTY partitionSpec
  *    whose child is not bounded — a single-partition sort of a
  *    data-sized frame (every row moves to one task; the
  *    recommender_coverage r10 watch item).
  *  - interpreted higher-order functions (`LambdaFunction` in any
  *    expression) on a node whose inputs are not bounded — per-row
  *    lambda interpretation in a corpus scan is the round-8
  *    boilerplate_ngrams failure mode (34.8 s vs 4 s compiled); over
  *    bounded frames (per-group folds of collected series, k-sized
  *    probe tables) it is the sanctioned sequential-recursion idiom.
  *
  * Boundedness is structural, not statistical: a node is bounded if
  * every leaf-to-node path passes through a cardinality-bounding
  * operator (aggregate, limit, local relation) — aggregates bound
  * output by group count, which every op's scale narrative already
  * sizes (stat frames, per-series rows, k-sized tops). A join is
  * bounded iff ALL its inputs are; exchanges/projections/filters/sorts
  * pass boundedness through; `GenerateExec` (explode) DESTROYS it —
  * exploding per-group collected lists can reinflate to corpus size,
  * so a lambda/window above an explode must re-bound first.
  *
  * Static mode reads the plan before AQE (sf0.01 stats by default):
  * the gate reads plan SHAPE, which Catalyst fixes at compile time;
  * AQE only re-picks join strategies within the same shape class.
  *
  * The same loop writes the plan dump `out` (default PLANS.md): one
  * `## <query>` section per query holding a fenced plan — the
  * `explain("formatted")` text in static mode, the final adaptive plan
  * in `executed` mode. `tools/plandiff.py` diffs two dumps' join
  * strategies (e.g. sf0.01 static vs sf1 executed).
  *
  * Usage: runMain graft.tools.PlanGate [dir] [out] [executed] [debug]
  * (SPARK_GRAFT_ONLY=a,b,c gates a subset). Exit 1 on any violation;
  * prints one line per query.
  */
object PlanGate {

  /** Operators that bound output cardinality regardless of input size. */
  private def bounding(p: SparkPlan): Boolean = p match {
    case _: BaseAggregateExec => true // group count, sized per-op
    case _: LocalTableScanExec => true // literal rows
    case _: GlobalLimitExec | _: LocalLimitExec => true
    case _: TakeOrderedAndProjectExec => true // distributed top-k
    case r: RangeExec => r.numElements.isValidLong &&
      r.numElements.toLong <= 100000 // spark.range constants
    case _ => false
  }

  /** Every leaf→node path passes a bounding operator. */
  def bounded(p: SparkPlan): Boolean =
    if (bounding(p)) true
    else p match {
      // executed (AQE-final) plans wrap subtrees in childless stage
      // nodes — descend into the wrapped plan, not past it
      case a: AdaptiveSparkPlanExec => bounded(a.executedPlan)
      case s: QueryStageExec => bounded(s.plan)
      case r: ReusedExchangeExec => bounded(r.child)
      // explode re-inflates (per-group collected lists can be
      // corpus-sized) — EXCEPT over literal input, where the output
      // size is a plan-time constant (explode(sequence(1, k)) over
      // OneRowRelation, the depth/threshold-grid idiom)
      case g: GenerateExec => g.child match {
        // literal leaves by name, not class: Spark 4 plans
        // OneRowRelation as its own exec node, not an RDDScanExec
        case leaf if leaf.children.isEmpty =>
          leaf.nodeName.contains("OneRowRelation") ||
            leaf.isInstanceOf[LocalTableScanExec]
        // explode directly over a GLOBAL (groupless, 1-row) aggregate:
        // the day-grid idiom — explode(sequence(min_day, max_day)) of
        // a corpus min/max. Time-bounded, not data-bounded. (A global
        // collect_list-then-explode would slip through this case; no
        // op uses that shape — collect_list always lives under a
        // per-group window here, which this arm does not match.)
        case a: BaseAggregateExec if a.groupingExpressions.isEmpty => true
        case p: ProjectExec => p.child match {
          case a: BaseAggregateExec => a.groupingExpressions.isEmpty
          case _ => false
        }
        case _ => false
      }
      case leaf if leaf.children.isEmpty => false // scans, RDD scans
      case other => other.children.forall(bounded)
    }

  private def hasLambda(p: SparkPlan): Boolean =
    p.expressions.exists(_.exists(_.isInstanceOf[LambdaFunction]))

  /** All violations in one query's physical plan (subqueries included).
    *
    * `limitAbove` tracks whether a Local/GlobalLimit sits above the
    * current node WITHIN the same stage (reset at exchanges): a
    * pipelined limit short-circuits row flow, so an interpreted lambda
    * under it evaluates at most `limit` rows per partition even though
    * its child subtree is a raw scan — the optimizer pushes query-side
    * limits below the lambda projects, which would otherwise
    * false-positive. The exemption applies ONLY to the lambda check:
    * windows consume all input and broadcast builds materialize fully
    * regardless of downstream limits. */
  def violations(plan: SparkPlan,
      debug: Option[String => Unit] = None): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def flag(msg: String, node: SparkPlan): Unit = {
      out += msg
      debug.foreach(_(s"--- $msg\n${node.treeString}"))
    }
    def walk(p: SparkPlan, limitAbove: Boolean): Unit = {
      val childLimit = p match {
        case _: Exchange => false // stage boundary: limit no longer pipelines
        case _: LocalLimitExec | _: GlobalLimitExec |
             _: TakeOrderedAndProjectExec | _: CollectLimitExec => true
        case _ => limitAbove
      }
      p match {
        case c: CartesianProductExec =>
          flag(s"cartesian: ${c.nodeName}", c)
        case j: BroadcastNestedLoopJoinExec =>
          val bcast = j.buildSide match {
            case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
            case _ => j.right
          }
          if (!bounded(bcast))
            flag(s"bnlj-unbounded-broadcast: ${j.nodeName}", j)
        case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) =>
          flag(s"global-window-unbounded: ${w.nodeName}", w)
        case w: WindowGroupLimitExec
            if w.partitionSpec.isEmpty && !bounded(w.child) =>
          flag(s"global-window-limit-unbounded: ${w.nodeName}", w)
        case n if hasLambda(n) && !limitAbove && !n.children.forall(bounded) =>
          flag(s"lambda-on-unbounded: ${n.nodeName}", n)
        case _ =>
      }
      // AQE wrappers have no children — descend into the wrapped plan
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, childLimit)
        case s: QueryStageExec => walk(s.plan, childLimit)
        case _ => p.children.foreach(walk(_, childLimit))
      }
      p.subqueries.foreach(walk(_, false))
    }
    walk(plan, limitAbove = false)
    out.toSeq
  }

  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(Set("executed", "debug"))
    val dir = pos.headOption.getOrElse("/root/testdata/sf0.01")
    val out = pos.lift(1).getOrElse("PLANS.md")
    // `executed` mode (VERDICT r11 #8): run each query at the given SF
    // under the BENCH config (AQE on, real statistics) and gate the
    // FINAL adaptive plan — the static walk reads compile-time shape,
    // but AQE re-picks join strategies from runtime sizes, and a
    // corpus-derived frame that merely LOOKS small at compile time can
    // come back as an unbounded broadcast (the round-5 trap). This
    // asserts the pinned shuffle_hash/broadcast choices survive real
    // sf1 statistics.
    val executed = flags.contains("executed")
    val dbg = if (flags.contains("debug")) Some((s: String) => println(s)) else None
    val queries = SparkEntry.selected() // an unknown name fails before the session
    val spark = SparkEntry.session("graft-plangate", Some(dir), "ERROR")
    val dump = new StringBuilder(
      if (executed) s"# Physical plans (EXECUTED adaptive plans, $dir, AQE on)\n"
      else s"# Physical plans (explain formatted, $dir, AQE off at plan time)\n")
    var bad = 0
    for ((name, fn) <- queries) {
      graft.Caches.clearAll() // per-query cost, not memoized reuse
      dump.append(s"\n## $name\n\n```\n")
      val vs = SparkEntry.run {
        val df = fn(spark, dir)
        if (executed) {
          // execute THIS plan (toRdd), so its AdaptiveSparkPlan is
          // finalized with runtime stats before the walk; a write
          // would finalize a separate QueryExecution's plan instead
          df.queryExecution.toRdd.count()
          // the FINAL plan prints first, then the initial plan section
          dump.append(df.queryExecution.executedPlan.toString
            .split("== Initial Plan ==")(0))
          violations(df.queryExecution.executedPlan, dbg)
        } else {
          dump.append(df.queryExecution.explainString(FormattedMode))
          violations(df.queryExecution.sparkPlan, dbg)
        }
      }._1.fold({ e =>
        val err = s"ERROR: ${SparkEntry.failureText(e)}"
        dump.append(err)
        Seq(err)
      }, identity)
      dump.append("\n```\n")
      if (vs.isEmpty) println(s"[plangate] OK   $name")
      else { bad += 1; vs.foreach(v => println(s"[plangate] FAIL $name — $v")) }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), dump.toString)
    println(s"[plangate] wrote $out")
    println(if (bad == 0) s"[plangate] all plans clean"
            else s"[plangate] $bad queries violate plan invariants")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
