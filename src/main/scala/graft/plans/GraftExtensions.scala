package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}

import graft.functions.{CosineSimilarity, FunctionArity, IntDotProduct, SignLshBucket}

/** The library's single deployment entry point for Catalyst extensions —
  * the `SparkSessionExtensions` route (SURVEY.md §2.10 rung c, the
  * "permanent deployment" half of ThresholdLevenshteinRule's contract):
  *
  * {{{
  *   // at session build time:
  *   SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  *   // or config-only, no code (spark-submit / thriftserver / connect):
  *   --conf spark.sql.extensions=graft.plans.GraftExtensions
  * }}}
  *
  * Injects everything the per-session `register(spark)` helpers install
  * imperatively, but at the right lifecycle point: the optimizer rule
  * rides every session built from the context (injectOptimizerRule runs
  * it in the same post-batches slot as `experimental.extraOptimizations`),
  * the [[SmallSort]] planner strategy runs ahead of the built-in
  * strategies (as `experimental.extraStrategies` does), and the four
  * codegen'd functions are in the registry before any SQL text parses,
  * so `cosine_sim` / `int_dot` / `lsh_bucket` /
  * `graft_might_contain` work from pure-SQL clients that never touch the Scala API.
  *
  * The imperative `register(spark)` helpers stay — tests and notebook
  * sessions attach to an already-built session — but both routes bind
  * the SAME builders, asserted by ExtensionsSpec.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => ThresholdLevenshteinRule)
    ext.injectPlannerStrategy(_ => SmallSort)

    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) =>
        FunctionArity.two("cosine_sim", children)(CosineSimilarity(_, _))))

    // 16 hyperplanes = the library default (q57 narrows per-call via the
    // Scala API; SQL callers get the documented default band width).
    ext.injectFunction((
      FunctionIdentifier("lsh_bucket"),
      new ExpressionInfo(classOf[SignLshBucket].getName, "lsh_bucket"),
      (children: Seq[Expression]) =>
        FunctionArity.one("lsh_bucket", children)(SignLshBucket(_, 16))))

    ext.injectFunction((
      FunctionIdentifier("int_dot"),
      new ExpressionInfo(classOf[IntDotProduct].getName, "int_dot"),
      (children: Seq[Expression]) =>
        FunctionArity.two("int_dot", children)(IntDotProduct(_, _))))

    ext.injectFunction((
      FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName,
        "graft_might_contain"),
      (children: Seq[Expression]) =>
        FunctionArity.two("graft_might_contain", children)(
          new BloomFilterMightContain(_, _))))
  }
}
