package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused word n-gram construction: `word_ngrams(text, n)` returns the
  * array of all consecutive space-joined n-grams of `text`'s
  * single-space-split words, in order, duplicates kept; fewer than `n`
  * words yields an empty array.
  *
  * Contract (r18 optimization round — the n-gram twin of
  * [[IntDotProduct]]'s HOF-replacement rationale, SURVEY.md §2.10
  * ladder): bit-identical to the compositional form
  *
  * {{{
  *   transform(sequence(1, size(w) - (n-1)),
  *     i => concat_ws(" ", slice(w, i, n)))        // w = split(text, " ")
  * }}}
  *
  * whenever `size(w) >= n` (WordNgramsSpec pins the equivalence on the
  * fixture corpus plus the edge cases). The identity that makes the
  * kernel cheap: `split` on the single-space pattern cuts the byte
  * stream at every 0x20, and `concat_ws(" ", ...)` re-inserts exactly
  * one 0x20 per boundary — so every n-gram IS a contiguous byte span of
  * the original string (multi-space runs produce the same empty words
  * and identical re-joined spans in both forms; a 0x20 byte can never
  * occur inside a multi-byte UTF-8 sequence). One pass records the
  * space positions, and each output element is a zero-copy
  * `UTF8String.fromBytes` window over the shared byte array — no word
  * array, no per-element lambda dispatch, no slice allocation.
  *
  * Why it exists: the HOF form's `transform`/`slice`/`concat_ws` runs
  * in the interpreted evaluator (HigherOrderFunction nodes never enter
  * whole-stage codegen) at ~2-4 ms per fixture document, and it is the
  * first pass of the entire dedup/text family (the r18 stage profile
  * measured the shingle-construction stage at 13-25 s of executor time
  * per query at sf0.1). This expression stays inside WholeStageCodegen
  * (the generated code is one static call) and the per-document cost
  * drops to the byte scan.
  *
  * Differences OUTSIDE the guarded envelope, pinned by the spec: for
  * size(w) < n the HOF form's `sequence(1, size-(n-1))` counts DOWN
  * (sequence(1, 0) = [1, 0]) and `slice` throws — every call site
  * therefore guards with `filter(size(w) >= n)` — while this kernel
  * returns an EMPTY array (explode then yields the same zero rows the
  * guard used to produce, so the guard becomes optional). `n` must be a
  * foldable positive INT; NULL text yields NULL.
  */
case class WordNgrams(text: Expression, nExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = text
  override def right: Expression = nExpr
  override def prettyName: String = "word_ngrams"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (text.dataType, nExpr.dataType) match {
      case (StringType, IntegerType) if nExpr.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (STRING, foldable INT), got " +
          s"(${text.dataType.catalogString}, ${nExpr.dataType.catalogString})")
    }

  // n folds ONCE (foldable by contract); n < 1 is a plan-time error the
  // moment the expression is bound, not a per-row surprise.
  @transient private lazy val nVal: Int = {
    val v = nExpr.eval()
    require(v != null, s"$prettyName: n must not be NULL")
    val n = v.asInstanceOf[Int]
    require(n >= 1, s"$prettyName: n must be >= 1, got $n")
    n
  }

  override def nullSafeEval(t: Any, n: Any): Any =
    WordNgrams.compute(t.asInstanceOf[UTF8String], nVal)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _) => {
      // nVal is forced here so an invalid literal fails at codegen time
      // exactly like interpreted binding.
      s"${ev.value} = graft.functions.WordNgrams.compute($t, $nVal);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordNgrams =
    copy(text = newLeft, nExpr = newRight)
}

object WordNgrams {

  /** One pass over the bytes: record each word's start offset (0, and
    * every position after a 0x20), then emit numWords-n+1 spans, each a
    * zero-copy window from word j's start to word j+n-1's end over the
    * SAME byte array. Called from both interpreted eval and the
    * generated code, so the two modes agree by construction. */
  def compute(text: UTF8String, n: Int): GenericArrayData = {
    val bytes = text.getBytes // copies only when the UTF8String is a window
    val len = bytes.length
    // split(text, " ") on an EMPTY string yields [""] (one empty word),
    // so numWords = spaces + 1 holds for every input, including "".
    var spaces = 0
    var i = 0
    while (i < len) { if (bytes(i) == ' ') spaces += 1; i += 1 }
    val numWords = spaces + 1
    val out = numWords - n + 1
    if (out <= 0) return new GenericArrayData(Array.empty[Any])
    // starts(j) = byte offset of word j; ends implied by the next start.
    val starts = new Array[Int](numWords)
    var w = 1
    i = 0
    while (i < len) {
      if (bytes(i) == ' ') { starts(w) = i + 1; w += 1 }
      i += 1
    }
    val res = new Array[Any](out)
    var j = 0
    while (j < out) {
      val from = starts(j)
      val until = if (j + n < numWords) starts(j + n) - 1 else len
      res(j) = UTF8String.fromBytes(bytes, from, until - from)
      j += 1
    }
    new GenericArrayData(res)
  }

  /** Column-API entry point (requires [[register]] on the session once). */
  def wordNgrams(text: Column, n: Int): Column =
    call_function("word_ngrams", text, org.apache.spark.sql.functions.lit(n))

  /** The registry entry of `word_ngrams`, built once. */
  private[graft] val entry: FunctionArity.Entry =
    FunctionArity.two("word_ngrams", classOf[WordNgrams])(WordNgrams(_, _))

  /** Register `word_ngrams` for SQL callers on an existing session. */
  def register(spark: SparkSession): Unit = FunctionArity.register(spark, entry)
}
