package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: BROADCAST-hint any cross/inner join side that is
  * PROVABLY at most one row — a global aggregate (no grouping
  * expressions), possibly under projections/aliases/filters/limits.
  *
  * The engine's queries lean on the scalar-totals pattern
  * (`corpus.crossJoin(broadcast(totals))` — TF-IDF norms, DSIR vocab
  * totals, unigram smoothing denominators). The `broadcast()` call is
  * load-bearing: without it the plan shape depends on AQE noticing at
  * runtime that the side is tiny, and one forgotten hint showed up in
  * a round-9 review exactly that way. This rule makes the property
  * STRUCTURAL: a one-row side is broadcastable by construction —
  * cardinality is known at plan time from the logical shape, no stats
  * or runtime feedback needed — so the hint cannot be forgotten.
  * Explicit hints are left untouched (the rule only fills
  * `JoinHint.NONE`), and only Inner/Cross joins are rewritten — both
  * sides are buildable there, so a hint can never point at an
  * un-buildable side.
  *
  * Registered once, by [[GraftExtensions]] at session build time.
  */
object BroadcastOneRowAggregates extends Rule[LogicalPlan] {

  /** At most one output row, provable from the logical shape alone. */
  private def atMostOneRow(p: LogicalPlan): Boolean = p match {
    case a: Aggregate => a.groupingExpressions.isEmpty
    case p: Project => atMostOneRow(p.child)
    case s: SubqueryAlias => atMostOneRow(s.child)
    case f: Filter => atMostOneRow(f.child)
    case l: GlobalLimit => limitIsOne(l.limitExpr) || atMostOneRow(l.child)
    case l: LocalLimit => atMostOneRow(l.child)
    case _ => false
  }

  private def limitIsOne(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v <= 1
      case _ => false
    }

  private val broadcastHint =
    Some(HintInfo(strategy = Some(BROADCAST)))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner | Cross, _, JoinHint.NONE) =>
      val r1 = atMostOneRow(right)
      val l1 = atMostOneRow(left)
      if (r1) j.copy(hint = JoinHint(None, broadcastHint))
      else if (l1) j.copy(hint = JoinHint(broadcastHint, None))
      else j
  }
}

/** The engine's only rule and strategy registration, applied at
  * session build time (`graft.Session` does it for every entry point;
  * elsewhere `spark.sql.extensions=graft.plans.GraftExtensions`). The
  * optimizer rules join Spark's "Operator Optimization" batches, the
  * strategies its planner; nothing is appended to
  * `spark.experimental`, so each runs exactly once.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => BroadcastOneRowAggregates)
    e.injectOptimizerRule(_ => PushFiltersThroughGraftJoins)
    e.injectOptimizerRule(_ => PruneColumnsThroughGraftJoins)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => IntervalJoinStrategy)
    // the SQL surface: ASOF JOIN statements parse to the native node
    // (GraftSqlParser recognizes the shape, ResolveGraftAsOfJoin types
    // it)
    e.injectParser((_, delegate) => new GraftSqlParser(delegate))
    e.injectResolutionRule(_ => ResolveGraftAsOfJoin)
    e.injectResolutionRule(_ => ResolveGraftTimeTravel)
  }
}
