package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Fused IVF cell ranking: `top_cells(embedding, cids, ces, k)` returns
  * the ids of the `k` highest-cosine centroids for one vector, ordered
  * (cosine desc, cid asc) — `cids` is the K-entry centroid-id array and
  * `ces` the row-major K×dims centroid matrix, both plan literals.
  *
  * Why a native Catalyst expression (SURVEY.md §2.10 ladder, and the
  * r17 profile that forced the rung): the compositional form —
  * explode(centroids) → cosine per candidate → a bounded top-k
  * aggregate — materializes N·K candidate ROWS just to throw all but
  * k·N away; at the sf100 receipt (2M×977) those 2B rows cost ~2.5 µs
  * each through the non-codegen aggregate boundary, ~190 s of the q50
  * probe-map build. This expression keeps the loop INSIDE the row:
  * one projection per vector, K×dims fused multiply-adds in generated
  * code, k-entry insertion registers, no Generate, no aggregate, no
  * exchange — the whole assignment stays in WholeStageCodegen and the
  * N·K rows never exist.
  *
  * Per-candidate arithmetic is EXACTLY [[CosineSimilarity]]'s fold
  * (one pass: dot + both norms, left-to-right IEEE, final
  * dot/(√na·√nb)), so scores — and therefore cell choices and
  * downstream recall — are bit-identical to the compositional form it
  * replaces (TopCellsSpec pins both the replica parity and the
  * eval/codegen agreement).
  *
  * Scale note: the literal matrix is K×dims floats (977×64 ≈ 250 KB at
  * the sf100 dial) riding the task binary. At a 1e9-row corpus K
  * reaches ~500k (~130 MB) — the point where assignment goes
  * hierarchical (coarse cells over centroids), the standard IVF
  * ladder; the dial, not the rung, is what the fixture decades
  * exercise.
  */
case class TopCells(emb: Expression, cids: Expression, ces: Expression,
    kExpr: Expression) extends QuaternaryExpression {

  override def prettyName: String = "top_cells"
  override def first: Expression = emb
  override def second: Expression = cids
  override def third: Expression = ces
  override def fourth: Expression = kExpr
  override def nullable: Boolean =
    emb.nullable || cids.nullable || ces.nullable || kExpr.nullable
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (emb.dataType, cids.dataType, ces.dataType, kExpr.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(LongType, _),
          ArrayType(FloatType, _), IntegerType)
          if kExpr.foldable && cids.foldable && ces.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (ARRAY<FLOAT>, foldable ARRAY<BIGINT>, " +
          s"foldable ARRAY<FLOAT>, foldable INT), got " +
          s"(${emb.dataType.catalogString}, ${cids.dataType.catalogString}, " +
          s"${ces.dataType.catalogString}, ${kExpr.dataType.catalogString})")
    }

  // The centroid arguments are foldable BY CONTRACT (typed literals):
  // folded ONCE into primitive JVM arrays here. A typedlit arrives as
  // GenericArrayData over BOXED elements, and reading the K×dims matrix
  // through per-element unboxing pointer-chases re-paid for EVERY row
  // was measured at ~60 ns/element — the whole kernel's cost. The
  // generated code references these primitives directly
  // (ctx.addReferenceObj), so the hot loop is flat float[] indexing.
  @transient private lazy val cidArr: Array[Long] =
    Option(cids.eval()).map(_.asInstanceOf[ArrayData].toLongArray())
      .getOrElse(Array.empty)
  @transient private lazy val cesArr: Array[Float] =
    Option(ces.eval()).map { a =>
      val ad = a.asInstanceOf[ArrayData]
      TopCells.requireLiteralMatrixFits(ad.numElements().toLong)
      ad.toFloatArray()
    }.getOrElse(Array.empty)

  override def nullSafeEval(e: Any, cid: Any, ce: Any, kv: Any): Any = {
    val xe = e.asInstanceOf[ArrayData]
    val xc = cidArr
    val xm = cesArr
    val k = kv.asInstanceOf[Int]
    val kTot = xc.length
    val dims = xe.numElements()
    if (kTot.toLong * dims != xm.length)
      throw new IllegalArgumentException(
        s"$prettyName: centroid matrix has ${xm.length} elements, " +
          s"expected $kTot x $dims")
    val kk = math.min(k, kTot)
    // k <= 0 → empty result, not tcs(-1)/new Array(-1) (r17 advice):
    // the SQL registration makes arbitrary k reachable from user text.
    if (kk <= 0) return UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])
    val tcs = new Array[Double](kk)
    val tid = new Array[Long](kk)
    var nf = 0
    var ci = 0
    while (ci < kTot) {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      val base = ci * dims
      var i = 0
      while (i < dims) {
        // NULL element reads as 0.0 (IntDotProduct's rule, r17 advice):
        // without the guard interpreted eval NPEs on GenericArrayData
        // while codegen reads 0 from the null slot — the modes disagree.
        // Only the query-vector terms are masked; the centroid norm
        // keeps the full dimension (skipping y too turns zero-overlap
        // cosines into 0/0 = NaN, which poisons the insertion sort).
        val x = if (xe.isNullAt(i)) 0.0 else xe.getFloat(i).toDouble
        val y = xm(base + i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val cs = dot / (math.sqrt(na) * math.sqrt(nb))
      val id = xc(ci)
      val skip = nf == kk &&
        !(cs > tcs(kk - 1) || (cs == tcs(kk - 1) && id < tid(kk - 1)))
      if (!skip) {
        var p = if (nf < kk) nf else kk - 1
        while (p > 0 && (cs > tcs(p - 1) ||
            (cs == tcs(p - 1) && id < tid(p - 1)))) {
          tcs(p) = tcs(p - 1); tid(p) = tid(p - 1); p -= 1
        }
        tcs(p) = cs; tid(p) = id
        if (nf < kk) nf += 1
      }
      ci += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(tid, nf))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cidRef = ctx.addReferenceObj("topCellsCids", cidArr, "long[]")
    val cesRef = ctx.addReferenceObj("topCellsCes", cesArr, "float[]")
    // The whole ranking loop lives in its OWN generated function: inlined
    // into the WholeStageCodegen consume method it pushed the method past
    // the JVM's 8000-bytecode JIT ceiling, and the hot loop ran in the
    // BYTECODE INTERPRETER (~30x, measured at the r17 sf100 profile). As
    // a standalone method it JITs independently and the consume method
    // stays small.
    // Null-element guard only when the embedding schema can hold one
    // (IntDotProduct's rule, r17 advice): parquet-read arrays usually
    // carry containsNull = true even when no slot is null, so the guard
    // must exist — but on containsNull = false inputs it is pure
    // overhead inside the K×dims hot loop. The centroid matrix side
    // needs no guard: it is a folded primitive float[].
    val embMayHaveNulls = emb.dataType match {
      case ArrayType(_, cn) => cn
      case _                => true
    }
    val xRead =
      if (embMayHaveNulls)
        "double x = emb.isNullAt(i) ? 0.0 : (double) emb.getFloat(i);"
      else "double x = (double) emb.getFloat(i);"
    val compute = ctx.addNewFunction("topCellsCompute",
      s"""
      private org.apache.spark.sql.catalyst.util.ArrayData topCellsCompute(
          org.apache.spark.sql.catalyst.util.ArrayData emb, int k) {
        long[] cids = $cidRef;
        float[] ces = $cesRef;
        int kTot = cids.length;
        int dims = emb.numElements();
        if ((long) kTot * dims != ces.length) {
          throw new IllegalArgumentException("top_cells: centroid matrix has "
            + ces.length + " elements, expected " + kTot + " x " + dims);
        }
        int kk = java.lang.Math.min(k, kTot);
        if (kk <= 0) {
          return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
            .fromPrimitiveArray(new long[0]);
        }
        double[] tcs = new double[kk];
        long[] tid = new long[kk];
        int nf = 0;
        for (int ci = 0; ci < kTot; ci++) {
          double dot = 0.0, na = 0.0, nb = 0.0;
          int base = ci * dims;
          for (int i = 0; i < dims; i++) {
            $xRead
            double y = (double) ces[base + i];
            dot += x * y; na += x * x; nb += y * y;
          }
          double cs = dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb));
          long id = cids[ci];
          // NB: generated lines must never START with '|' - Spark's
          // codegen string pipeline treats it as a stripMargin and
          // silently corrupts the Java (interpreted fallback, ~30x).
          if (nf == kk && !(cs > tcs[kk - 1] ||
              (cs == tcs[kk - 1] && id < tid[kk - 1]))) continue;
          int p = (nf < kk) ? nf : kk - 1;
          while (p > 0 && (cs > tcs[p - 1] ||
              (cs == tcs[p - 1] && id < tid[p - 1]))) {
            tcs[p] = tcs[p - 1]; tid[p] = tid[p - 1]; p--;
          }
          tcs[p] = cs; tid[p] = id;
          if (nf < kk) nf++;
        }
        return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray(java.util.Arrays.copyOf(tid, nf));
      }""")
    nullSafeCodeGen(ctx, ev, (e, cid, ce, kv) =>
      s"${ev.value} = $compute($e, $kv);")
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): TopCells =
    copy(emb = newFirst, cids = newSecond, ces = newThird, kExpr = newFourth)
}

object TopCells {
  /** Hard cap on the folded centroid-matrix literal: 2^25 floats
    * (128 MB of primitive floats riding EVERY task binary — the class
    * comment's K ≈ 500k × 64-dim edge). Past it the flat-literal design
    * is the wrong rung: assignment must go hierarchical (coarse cells
    * over centroids, the standard IVF ladder). The check turns that
    * design edge into a loud plan-time failure instead of a silently
    * shipped nine-figure task binary (r17 verdict stretch #7); it is
    * unreachable at any fixture decade (sf100 dial: 977 × 64 ≈ 62K
    * elements, three orders under the cap). */
  private[graft] val MaxLiteralMatrixElems: Long = 1L << 25

  private[graft] def requireLiteralMatrixFits(elems: Long): Unit =
    if (elems > MaxLiteralMatrixElems) {
      throw new IllegalArgumentException(
        s"top_cells: centroid matrix literal has $elems elements " +
          s"(> $MaxLiteralMatrixElems = 128 MB of floats in every task " +
          "binary). At this K the flat IVF assignment is past its design " +
          "edge - go hierarchical: cluster the centroids into coarse " +
          "cells, top_cells over the coarse matrix first, then rank " +
          "only the selected cells' centroids.")
    }

  /** Column-API entry point (requires [[register]] on the session once). */
  def topCells(emb: Column, cids: Column, ces: Column, k: Int): Column =
    call_function("top_cells", emb, cids, ces,
      org.apache.spark.sql.functions.lit(k))

  /** The registry entry of `top_cells`, built once. */
  private[graft] val entry: FunctionArity.Entry =
    FunctionArity.four("top_cells", classOf[TopCells])(TopCells(_, _, _, _))

  /** Register `top_cells` for SQL/Column callers on an existing session. */
  def register(spark: SparkSession): Unit = FunctionArity.register(spark, entry)
}
