package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: plan naive edit-distance bound filters with the
  * threshold-limited kernel.
  *
  * Users (and ported reference pipelines) write `levenshtein(a, b) <= k`.
  * The 2-arg form fills the full O(n·m) DP matrix per pair; Spark's 3-arg
  * `levenshtein(a, b, k)` computes a threshold-limited distance —
  * O(k·min(n,m)) band with early exit — returning -1 when the bound is
  * exceeded. So `lev(a,b) <= k  ⟺  lev(a,b,k) >= 0` (the thresholded
  * value is the exact distance whenever it is non-negative), and the
  * rewrite is safe for every row including nulls (null inputs yield a
  * null comparison in both forms).
  *
  * This is SURVEY.md §2.10 rung (c) — a `Rule[LogicalPlan]` extension —
  * used the Spark-first way: the rewrite target is a BUILT-IN kernel, the
  * rule just makes the efficient plan the default for naive query text.
  * It is on [[GraftExtensions]]' install list: injected at session build
  * time, or appended to `spark.experimental.extraOptimizations` on a live
  * session (`SparkEntry.prepare` before every registry call).
  *
  * Filter AND Join conditions are rewritten — user rules run after the
  * main optimizer batches, where predicate pushdown has usually folded
  * the filter into the join condition already. A projected
  * `levenshtein(a, b)` OUTPUT column keeps the full computation (its
  * exact value may exceed k), and after the rewritten predicate it runs
  * only on surviving rows.
  */
object ThresholdLevenshteinRule extends Rule[LogicalPlan] {

  private def bounded(a: Expression, b: Expression, k: Int): Expression =
    GreaterThanOrEqual(Levenshtein(a, b, Some(Literal(k))), Literal(0))

  private def rewrite(cond: Expression): Expression = cond.transformUp {
    case LessThanOrEqual(Levenshtein(a, b, None), Literal(k: Int, IntegerType)) if k >= 0 =>
      bounded(a, b, k)
    case GreaterThanOrEqual(Literal(k: Int, IntegerType), Levenshtein(a, b, None)) if k >= 0 =>
      bounded(a, b, k)
    case LessThan(Levenshtein(a, b, None), Literal(k: Int, IntegerType)) if k >= 1 =>
      bounded(a, b, k - 1)
    case GreaterThan(Literal(k: Int, IntegerType), Levenshtein(a, b, None)) if k >= 1 =>
      bounded(a, b, k - 1)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, _) =>
      val r = rewrite(cond)
      if (r fastEquals cond) f else f.copy(condition = r)
    case j @ Join(_, _, _, Some(cond), _) =>
      val r = rewrite(cond)
      if (r fastEquals cond) j else j.copy(condition = Some(r))
  }

  /** Idempotently install on a live session. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
    }
}
