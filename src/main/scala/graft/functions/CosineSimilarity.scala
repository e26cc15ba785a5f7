package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.SparkSession

/** Fused cosine similarity over two `ARRAY<FLOAT>` columns.
  *
  * Why a native Catalyst expression (SURVEY.md §2.10 ladder): the
  * higher-order-function formulation (`aggregate(zip_with(...))` + two
  * norm folds) is correct but runs the lambda interpreter per element and
  * walks each array three times, and HigherOrderFunction nodes do not
  * participate in whole-stage codegen. This expression emits a single
  * fused Java loop (one pass: dot + both norms) that inlines into the
  * surrounding WholeStageCodegen stage — the hot path of kNN/near-dup
  * joins, where it runs once per candidate pair.
  *
  * Bit-compatibility: accumulation is left-to-right in IEEE double with a
  * single final `dot / (sqrt(na) * sqrt(nb))`, the exact operation order
  * of the HOF form and of the DuckDB oracle's `list_sum(list_transform)`
  * — swapping this in changes nothing in any checked result.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  // Nullable regardless of child nullability: empty inputs yield NULL (the
  // SQL convention — DuckDB's list_sum over an empty list is NULL), not
  // the 0/0 = NaN the raw fold would produce. Zero-NORM (but non-empty)
  // vectors still yield NaN in both engines, matching the HOF form.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects two ARRAY<FLOAT> arguments, got " +
            s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xa = a.asInstanceOf[ArrayData]
    val xb = b.asInstanceOf[ArrayData]
    val n = math.min(xa.numElements(), xb.numElements())
    if (n == 0) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = xa.getFloat(i).toDouble
      val y = xb.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        if ($n == 0) {
          ${ev.isNull} = true;
        } else {
          double $dot = 0.0, $na = 0.0, $nb = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            double $x = (double) $a.getFloat($i);
            double $y = (double) $b.getFloat($i);
            $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
          }
          ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Column-API entry point (requires [[register]] on the session once):
    * `cosineSim($"a", $"b")`. Spark 4 made Column↔Expression conversion
    * sql-private, so the public registry + call_function route is used. */
  def cosineSim(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)

  /** The registry entry of `cosine_sim`, built once. */
  private[graft] val entry: FunctionArity.Entry =
    FunctionArity.two("cosine_sim", classOf[CosineSimilarity])(CosineSimilarity(_, _))

  /** Register `cosine_sim` for SQL callers on an existing session. */
  def register(spark: SparkSession): Unit = FunctionArity.register(spark, entry)
}
