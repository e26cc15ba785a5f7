package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, LongType}
import org.apache.spark.sql.SparkSession

/** Sign-random-projection LSH bucket id for an `ARRAY<FLOAT>` vector.
  *
  * Bit p of the result is the sign of the dot product with pseudo-random
  * hyperplane p, whose ±1 coefficients derive from md5 parity (see
  * [[SignLshBucket.coeffs]]) so an external engine can rebuild them. The
  * nested-HOF formulation of the same fold is evaluated by the lambda
  * interpreter per element (planes × dims interpreter dispatches per row);
  * this expression is one fused codegen'd loop, and the coefficient matrix
  * is computed once and referenced from generated code.
  *
  * Accumulation order (plane-major, dim-ascending, IEEE double) matches
  * the HOF form and the DuckDB oracle's nested `list_sum(list_transform)`
  * exactly, so results are bit-identical.
  */
case class SignLshBucket(child: Expression, planes: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "lsh_bucket"

  @transient private lazy val coeffs: Array[Array[Double]] =
    SignLshBucket.coeffs(planes)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects ARRAY<FLOAT>, got ${other.catalogString}")
    }

  override def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val n = xs.numElements()
    var bucket = 0L
    var p = 0
    while (p < planes) {
      val c = coeffs(p)
      var acc = 0.0
      var j = 0
      while (j < n && j < c.length) {
        acc += xs.getFloat(j).toDouble * c(j)
        j += 1
      }
      if (acc > 0) bucket += (1L << p)
      p += 1
    }
    bucket
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cf = ctx.addReferenceObj("coeffs", coeffs, "double[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val p = ctx.freshName("p")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val c = ctx.freshName("c")
      s"""
        int $n = $a.numElements();
        ${ev.value} = 0L;
        for (int $p = 0; $p < $planes; $p++) {
          double[] $c = $cf[$p];
          double $acc = 0.0;
          for (int $j = 0; $j < $n && $j < $c.length; $j++) {
            $acc += ((double) $a.getFloat($j)) * $c[$j];
          }
          if ($acc > 0) ${ev.value} += (1L << $p);
        }
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SignLshBucket =
    copy(child = newChild)
}

object SignLshBucket {
  private val MaxDims = 64

  /** Planes of `lsh_bucket(v)`. */
  val DefaultPlanes = 16

  /** The bucket is a `Long` with one bit per plane: `1L << p` wraps past
    * bit 63, so a plane count is at most 64. */
  val MaxPlanes = 64

  /** coeff(p, j) = +1 iff the first hex digit of md5("p:j") is < 8 —
    * recomputable in any engine with an md5 function. */
  def coeffs(planes: Int): Array[Array[Double]] =
    Array.tabulate(planes, MaxDims) { (p, j) =>
      val md = MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$p:$j".getBytes(StandardCharsets.UTF_8))
      val firstNibble = (hex(0) >> 4) & 0xf
      if (firstNibble < 8) 1.0 else -1.0
    }

  /** Column-API entry point (requires [[register]] on the session once).
    * Plane count feeds two dials: band WIDTH (buckets per band = 2^bits)
    * bounds in-bucket pair volume at O(N²/2^bits) per band and must GROW
    * with corpus size (4 planes = 16 fixed buckets was the round-2 scale
    * flaw — unbounded bucket population at 1e9 vectors); band COUNT
    * L = planes/bits amplifies recall, detect prob = 1-(1-p^bits)^L with
    * p = 1-θ/π per plane. q57 uses 32 planes as four independent 8-bit
    * bands; AsofDedupSpec asserts the observed recall matches this
    * formula against brute force. */
  def lshBucket(v: Column, planes: Int = DefaultPlanes): Column =
    call_function("lsh_bucket", v, lit(planes))

  /** The registry entry of `lsh_bucket`, built once: `lsh_bucket(v)` has
    * [[DefaultPlanes]] planes, `lsh_bucket(v, p)` has `p`, an INT literal
    * in 1..[[MaxPlanes]]. The plane count is part of each call, never of
    * the session. */
  private[graft] val entry: FunctionArity.Entry =
    FunctionArity.entry("lsh_bucket", classOf[SignLshBucket],
        s"1, or 2 with an INT literal plane count in [1, $MaxPlanes],") {
      case Seq(v) => SignLshBucket(v, DefaultPlanes)
      case Seq(v, Literal(p: Int, IntegerType)) if p >= 1 && p <= MaxPlanes =>
        SignLshBucket(v, p)
    }

  /** Register `lsh_bucket` for SQL callers on an existing session. */
  def register(spark: SparkSession): Unit = FunctionArity.register(spark, entry)
}
