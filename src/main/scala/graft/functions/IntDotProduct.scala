package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}
import org.apache.spark.sql.SparkSession

/** Fused integer dot product over two `ARRAY<INT>` columns → BIGINT.
  *
  * The quantized-retrieval counterpart of [[CosineSimilarity]] (SURVEY.md
  * §2.10 ladder, same rationale): the HOF form
  * `aggregate(zip_with(a, b, (x, y) => (x * y).cast("long")), 0L, _ + _)`
  * runs the lambda interpreter per element and HigherOrderFunction nodes
  * never enter whole-stage codegen — and it sits on the hot pair loop of
  * the int8-quantized kNN/re-rank queries (q129/q311), where it runs
  * once per (probe, candidate). This emits one fused Java loop inlined
  * into the surrounding WholeStageCodegen stage.
  *
  * Bit-compatibility: integer products summed in a BIGINT accumulator are
  * ASSOCIATIVE and exact — any order in any engine agrees (the very
  * property q129 documents as quantization's determinism bonus), so
  * swapping this in changes nothing in any checked result. Semantics
  * match the HOF form ONLY on the fixture invariant the quantization
  * transform guarantees: equal-length, null-free arrays whose products
  * fit in INT (|v| <= 127 ⇒ |x*y| <= 16129). Outside that envelope the
  * two forms INTENTIONALLY diverge, and this kernel is the better-defined
  * one: (a) length mismatch TRUNCATES to the shorter side, where the HOF
  * form's `zip_with` null-pads the tail and `acc + null` poisons the
  * whole fold to NULL; (b) each product is widened to BIGINT BEFORE the
  * multiply, where the HOF multiplies in INT (wrapping on overflow)
  * before its cast; (c) a NULL element contributes 0 in both eval modes
  * (guarded below — GenericArrayData and UnsafeArrayData must agree),
  * where the HOF again folds to NULL. A NULL array on either side yields
  * NULL in both forms. IntDotExpressionSpec's `trunc`/`wide`/`nullelem`
  * cases pin exactly these divergences as the kernel's contract.
  */
case class IntDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "int_dot"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects two ARRAY<INT> arguments, got " +
            s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xa = a.asInstanceOf[ArrayData]
    val xb = b.asInstanceOf[ArrayData]
    val n = math.min(xa.numElements(), xb.numElements())
    var dot = 0L
    var i = 0
    while (i < n) {
      // NULL element → contributes 0. Without the guard, interpreted
      // eval (GenericArrayData.getInt NPEs) and codegen (UnsafeArrayData
      // reads 0 from the null slot) DISAGREE — the guard makes both
      // modes the documented skip (r15 advice).
      if (!xa.isNullAt(i) && !xb.isNullAt(i)) {
        dot += xa.getInt(i).toLong * xb.getInt(i).toLong
      }
      i += 1
    }
    dot
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      // Null-element guard only when the schema can actually hold one
      // (r16 advice): q129/q311's hot pair loop runs on containsNull =
      // false arrays, where two isNullAt branches per element are pure
      // overhead in the very loop this kernel exists to speed up. eval
      // keeps its guard unconditionally (it is not the hot path).
      val mayHaveNulls = Seq(left, right).exists {
        _.dataType match {
          case ArrayType(_, cn) => cn
          case _                => true
        }
      }
      val body =
        if (mayHaveNulls)
          s"""if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
            $dot += (long) $a.getInt($i) * (long) $b.getInt($i);
          }"""
        else s"$dot += (long) $a.getInt($i) * (long) $b.getInt($i);"
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        long $dot = 0L;
        for (int $i = 0; $i < $n; $i++) {
          $body
        }
        ${ev.value} = $dot;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntDotProduct =
    copy(left = newLeft, right = newRight)
}

object IntDotProduct {
  /** Column-API entry point (requires [[register]] on the session once). */
  def intDot(a: Column, b: Column): Column =
    call_function("int_dot", a, b)

  /** The registry entry of `int_dot`, built once. */
  private[graft] val entry: FunctionArity.Entry =
    FunctionArity.two("int_dot", classOf[IntDotProduct])(IntDotProduct(_, _))

  /** Register `int_dot` for SQL callers on an existing session. */
  def register(spark: SparkSession): Unit = FunctionArity.register(spark, entry)
}
