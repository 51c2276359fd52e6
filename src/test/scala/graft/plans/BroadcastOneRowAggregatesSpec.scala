package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The one-row-aggregate broadcast rule: structural cardinality
  * knowledge replaces hand-written broadcast() calls on scalar-totals
  * joins. The shared test session (graft.Session) gets the rule, like
  * every engine rule and strategy, from GraftExtensions alone.
  */
class BroadcastOneRowAggregatesSpec extends SparkSpec {
  import spark.implicits._

  private def withJoinConfs[T](f: => T): T = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> scala.util.Try(spark.conf.get(k)).toOption).toMap
    try {
      // kill size-based broadcasts and AQE: any broadcast in the plan
      // is then attributable to the HINT the rule injected
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      f
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("a one-row aggregate cross-join side broadcasts without a manual hint") {
    withJoinConfs {
      val corpus = spark.range(0, 1000).select(col("id"), (col("id") % 7).as("v"))
      val totals = corpus.agg(sum(col("v")).as("tot"), count(lit(1)).as("n"))
      val joined = corpus.crossJoin(totals)
        .select(col("id"), (col("v") / col("tot")).as("frac"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
      assert(!p.contains("CartesianProduct"), p)
      assert(joined.count() == 1000)
    }
  }

  test("projections, filters and aliases over the aggregate stay provably one-row") {
    withJoinConfs {
      val corpus = spark.range(0, 100).select(col("id"))
      val totals = corpus.agg(count(lit(1)).as("n"))
        .select((col("n") + 1).as("n1")).where(col("n1") > 0).as("t")
      val p = corpus.crossJoin(totals).queryExecution.executedPlan.toString
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    }
  }

  test("multi-row sides are untouched (no hint, cartesian stays cartesian)") {
    withJoinConfs {
      val a = spark.range(0, 10).select(col("id").as("a"))
      val b = spark.range(0, 10).select((col("id") % 3).as("g"))
        .groupBy("g").agg(count(lit(1)).as("n")) // grouped agg: multi-row
      val p = a.crossJoin(b).queryExecution.executedPlan.toString
      assert(p.contains("CartesianProduct"), p)
    }
  }

  test("an explicit strategy hint wins over the rule") {
    withJoinConfs {
      val a = spark.range(0, 100).select(col("id"), (col("id") % 5).as("k"))
      val one = a.agg(max(col("k")).as("k")) // one row, joinable on k
      val joined = a.join(one.hint("shuffle_replicate_nl"), Seq("k"))
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("BroadcastHashJoin"), p)
    }
  }

  test("GraftExtensions is the only rule registration") {
    // Optimizer.batches is protected: read the batch names and rule
    // lists by reflection
    def call(o: AnyRef, m: String): AnyRef = o.getClass.getMethod(m).invoke(o)
    def check(): Unit = {
      val batches = call(spark.sessionState.optimizer, "batches")
        .asInstanceOf[Seq[AnyRef]]
      for (rule <- Seq(BroadcastOneRowAggregates, PushFiltersThroughGraftJoins,
                       PruneColumnsThroughGraftJoins)) {
        val in = batches.filter(b => call(b, "rules").asInstanceOf[Seq[AnyRef]]
          .contains(rule)).map(call(_, "name").toString)
        assert(in.size == 2 && in.forall(_.startsWith("Operator Optimization")),
          s"${rule.ruleName} runs in $in")
      }
      val strategies = spark.sessionState.planner.strategies
      for (st <- Seq(AsOfJoinStrategy, IntervalJoinStrategy))
        assert(strategies.count(_ eq st) == 1, s"$st in $strategies")
    }
    check()
    graft.Tuning.install(spark) // the benchmark harness calls it again
    check()
  }
}
