package graft.functions

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registry entries for the engine's SQL functions, with the shared arity
  * guard (r15 advice).
  *
  * Each function object builds its entry (name, `ExpressionInfo`,
  * builder) once and keeps it as one stable value. Both install routes
  * put that value: [[graft.plans.GraftExtensions]] injects it when a
  * session is built, and `register` puts it on a live session. A repeat
  * registration therefore puts an equal pair, and Spark's function
  * registry logs no "replaced a previously registered function" warning.
  *
  * A builder that blindly indexed `children(0)/children(1)` would turn a
  * user's `int_dot(array(1))` into an `IndexOutOfBoundsException`
  * instead of the analysis error every built-in function raises. The
  * guard throws Spark's own `WRONG_NUM_ARGS` error class, so the SQL
  * caller sees the same shape of message (function name, expected
  * arity, actual arity, SQLSTATE 42605) as for a mis-called built-in.
  */
private[graft] object FunctionArity {

  /** (name, info, builder): the shape `SparkSessionExtensions.injectFunction`
    * takes and `FunctionRegistry.registerFunction` is called with. */
  type Entry = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** The entry of a binary function. */
  def two(name: String, cls: Class[_])(
      build: (Expression, Expression) => Expression): Entry =
    entry(name, cls, "2") { case Seq(a, b) => build(a, b) }

  /** The entry of a 4-ary function. */
  def four(name: String, cls: Class[_])(
      build: (Expression, Expression, Expression, Expression) => Expression): Entry =
    entry(name, cls, "4") { case Seq(a, b, c, d) => build(a, b, c, d) }

  /** The entry of a function whose builder accepts the argument lists
    * `build` is defined on; any other list raises the standard arity
    * error, with `expected` as its expected count. */
  def entry(name: String, cls: Class[_], expected: String)(
      build: PartialFunction[Seq[Expression], Expression]): Entry =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (children: Seq[Expression]) =>
        build.applyOrElse(children, (c: Seq[Expression]) =>
          throw wrongNumArgs(name, expected, c.size)))

  /** Put `entry` in a live session's function registry. */
  def register(spark: SparkSession, entry: Entry): Unit = {
    val (name, info, builder) = entry
    spark.sessionState.functionRegistry.registerFunction(name, info, builder)
  }

  private def wrongNumArgs(name: String, expected: String,
      actual: Int): AnalysisException =
    new AnalysisException(
      "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      Map(
        "functionName" -> s"`$name`",
        "expectedNum" -> expected,
        "actualNum" -> actual.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"))
}
