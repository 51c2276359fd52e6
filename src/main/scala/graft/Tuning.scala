package graft

import org.apache.spark.sql.SparkSession

/** Engine-level optimizer tuning. [[Session]] sets it at build time;
  * `install` sets it on a session built some other way. The engine's
  * own rules and strategies are not here: [[graft.plans.GraftExtensions]]
  * is their only registration.
  *
  * `InferFiltersFromGenerate` is excluded: it clones a Generate's
  * generator expression into inferred `isnotnull` + `size > 0` filters,
  * and predicate pushdown clones those again into the scan's data
  * filters. For this engine's text operators the generator inputs are
  * higher-order-function chains (tokenize → shingle → distinct), which
  * are CodegenFallback — always interpreted — so each clone re-runs the
  * interpreted lambda chain per input row (measured 16.0 s → 4.8 s on
  * the q68 corpus explode at sf0.1 from the exclusion alone; staging
  * the array gets the remaining 4.8 → 0.7 s). The rule is semantically
  * redundant for inner explode — the Generate itself drops null/empty
  * arrays — so excluding it never changes results, only removes the
  * duplicated evaluation.
  */
object Tuning {

  val ExcludedRules =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  def install(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.optimizer.excludedRules", ExcludedRules)
}
