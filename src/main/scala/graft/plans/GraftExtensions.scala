package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

import graft.functions.{BloomJoin, CosineSimilarity, FunctionArity, IntDotProduct, SignLshBucket, TopCells, WordNgrams}

/** The one list of what the engine installs on a session — the
  * [[SmallSort]] planner strategy, [[ThresholdLevenshteinRule]] and the
  * six SQL functions in [[GraftExtensions.functions]] — and its two
  * install routes:
  *
  * {{{
  *   // at session build time (SURVEY.md §2.10 rung c):
  *   SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  *   // or config-only, no code (spark-submit / thriftserver / connect):
  *   --conf spark.sql.extensions=graft.plans.GraftExtensions
  *   // on a live session (SparkEntry.prepare, before every registry call):
  *   GraftExtensions.install(spark)
  * }}}
  *
  * The build-time route injects the optimizer rule (in the same
  * post-batches slot as `experimental.extraOptimizations`), runs the
  * strategy ahead of the built-in strategies (as
  * `experimental.extraStrategies` does) and puts the functions in the
  * registry before any SQL text parses, so pure-SQL clients that never
  * touch the Scala API can call them. The live route appends the same
  * strategy and rule when they are absent and puts the same function
  * entries. Each entry is one stable value owned by its function object,
  * so both routes bind the same builders and a repeat install puts an
  * equal pair (ExtensionsSpec).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => ThresholdLevenshteinRule)
    ext.injectPlannerStrategy(_ => SmallSort)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {

  /** `cosine_sim`, `lsh_bucket`, `int_dot`, `graft_might_contain`,
    * `word_ngrams` and `top_cells`. */
  val functions: Seq[FunctionArity.Entry] = Seq(
    CosineSimilarity.entry,
    SignLshBucket.entry,
    IntDotProduct.entry,
    BloomJoin.entry,
    WordNgrams.entry,
    TopCells.entry)

  /** Idempotently install the strategy, the rule and the functions on a
    * live session; cheap enough to run before every query. */
  def install(spark: SparkSession): Unit = {
    SmallSort.register(spark)
    ThresholdLevenshteinRule.install(spark)
    functions.foreach(FunctionArity.register(spark, _))
  }
}
