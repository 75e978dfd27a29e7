package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, NullType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The n-token windows of an `array<string>` in ONE per-row pass —
  * returns `array<string>`, window i = elements i..i+n-1 joined by
  * `sep`, in window order.
  *
  * Semantics (the contract every word/char shingler in graft shares):
  *  - a window holding a null element is dropped;
  *  - with `distinct`, only the first occurrence of each window is kept;
  *    without it, every occurrence (the multiplicity repetition metrics
  *    and bigram counts need);
  *  - a null array gives null, an array shorter than n an empty array.
  *
  * The composable formulation this replaces zipped the array with its
  * k-shifted slices (`zip_with` + `concat`, then `array_compact` and
  * `array_distinct`). `ZipWith` is a CodegenFallback higher-order
  * function, so that ran interpreted, one lambda call per element per
  * shift, and copied every partial gram n−1 times. Here each element is
  * read once, each gram is one `concatWs` copy of its tokens, and the
  * distinct set is a byte-equality hash set (the same equality
  * `array_distinct` uses on binary-collated strings). Output bytes and
  * order equal the zip_with form's; PropertySpec pins the equivalence
  * on arbitrary arrays, on both the codegen and the interpreted path.
  */
case class Ngrams(child: Expression, n: Int, sep: String, distinct: Boolean)
    extends UnaryExpression {
  require(n >= 1, "n-gram size must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) | NullType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"Ngrams expects ARRAY<STRING>, got ${other.simpleString}")
  }

  @transient private lazy val sepBytes: UTF8String = UTF8String.fromString(sep)

  override def nullSafeEval(a: Any): Any =
    Ngrams.windows(a.asInstanceOf[ArrayData], n, sepBytes, distinct)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val s = ctx.addReferenceObj("ngramSep", sepBytes, classOf[UTF8String].getName)
      s"${ev.value} = graft.functions.Ngrams.windows($a, $n, $s, $distinct);"
    })

  override protected def withNewChildInternal(newChild: Expression): Ngrams =
    copy(child = newChild)
}

object Ngrams {

  /** Shared by interpreted eval and codegen (janino resolves the static
    * forwarder). A window is valid iff the run of non-null elements
    * ending at its last element is at least n long.
    */
  def windows(arr: ArrayData, n: Int, sep: UTF8String,
      distinct: Boolean): ArrayData = {
    val len = arr.numElements()
    val toks = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      if (!arr.isNullAt(i)) toks(i) = arr.getUTF8String(i)
      i += 1
    }
    val out = new Array[Any](math.max(len - n + 1, 0))
    val seen = if (distinct) new java.util.HashSet[UTF8String]() else null
    var k = 0
    var run = 0
    var end = 0
    while (end < len) {
      run = if (toks(end) == null) 0 else run + 1
      if (run >= n) {
        val g = UTF8String.concatWs(sep,
          java.util.Arrays.copyOfRange(toks, end - n + 1, end + 1): _*)
        if (seen == null || seen.add(g)) { out(k) = g; k += 1 }
      }
      end += 1
    }
    new GenericArrayData(if (k == out.length) out else out.take(k))
  }
}
