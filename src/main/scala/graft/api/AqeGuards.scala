package graft.api

import org.apache.spark.sql.SparkSession

/** Session guard against a Spark 4.1 AQE wrong-results hazard (r19
  * optimization round — root cause of the round-10 "TakeOrderedAndProject
  * dropped" incident, PLANS.md).
  *
  * Mechanism, reproduced deterministically on the bm25 plan shape with
  * `spark.sql.planChangeLog.level=warn`: AQE re-optimizes the logical plan
  * between stage materializations, and its re-optimizer includes the
  * `EliminateLimits` batch. That rule removes a `GlobalLimit`/`LocalLimit`
  * pair whenever `child.maxRows <= limit` — sound at compile time, but
  * during AQE replanning the tree contains `LogicalQueryStage` /
  * `InMemoryRelation` wrappers whose runtime `maxRows` claim can be
  * transiently wrong, and the rule then deletes a limit that is load-
  * bearing: a fused `orderBy().limit(k)` (TakeOrderedAndProject) over a
  * cached-base join tree returned the WHOLE scored corpus (497 rows
  * instead of 20) on the collect/write path while `count()` still saw 20.
  * Whether the mangled plan is adopted depends on AQE's cost comparison
  * per re-optimization round, which is why the corruption is
  * nondeterministic run-to-run. `OptimizeOneRowPlan` sits in the same
  * AQE batch group and eliminates Sort/GlobalLimit nodes from the same
  * `maxRows == 1` reasoning, so it is excluded alongside.
  *
  * The exclusion is semantics-preserving by construction: both rules only
  * ever REMOVE operators that correct statistics would prove redundant, so
  * keeping them in the plan can never change a result — and the static
  * optimizer (whose `maxRows` derivation does not involve runtime query
  * stages) still applies both rules normally before AQE takes over.
  *
  * Applied by `Tables.load`, the loader every table read passes through,
  * so harnesses (Bench/Verify) and direct library calls get it with no
  * session setup of their own; the `SparkEntry.queries` wrapper applies
  * it too, for the few keys that read no table through it. Merges with
  * caller-set exclusions.
  */
object AqeGuards {
  private val Key = "spark.sql.adaptive.optimizer.excludedRules"

  private[graft] val ExcludedRules = Seq(
    "org.apache.spark.sql.catalyst.optimizer.EliminateLimits",
    "org.apache.spark.sql.catalyst.optimizer.OptimizeOneRowPlan")

  /** Idempotent: no-op when both rules are already excluded. */
  def apply(spark: SparkSession): Unit = {
    val current = spark.conf.getOption(Key)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toList)
      .getOrElse(Nil)
    val missing = ExcludedRules.filterNot(current.contains)
    if (missing.nonEmpty) spark.conf.set(Key, (current ++ missing).mkString(","))
  }
}
