package graft.ops

import org.apache.spark.sql.{CatalystColumns, Column}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word k-gram shingle array over a token array (array<string> in,
  * array<string> out): element i = the k tokens starting at i joined with
  * a single space — exactly `array_join(slice(toks, i+1, k), " ")` for
  * i in 0..n-k, null tokens skipped by the join the same way array_join
  * skips them. The one shingle-array implementation: the quality
  * filter's repetition signal and `Dedup.ngramJaccard` call it, and the
  * signature/window kernels hash the same strings.
  *
  * Exists for guide §4 reasons: Spark evaluates higher-order-function
  * lambdas interpreted, per element, and a transform/slice/array_join
  * chain allocates a slice ArrayData per output shingle — and when its
  * lambda names the token array, re-runs the regex split per element,
  * O(n²) per document. This expression emits ONE static-method call per
  * row inside whole-stage codegen (same pattern as [[ArrayDotProduct]]);
  * the loop body is plain JIT-able JVM code. Output strings are
  * byte-identical to that chain (OpsSpec pins it), so every md5-derived
  * fingerprint downstream (and the DuckDB oracle) is unchanged. */
case class WordShingles(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"shingle width must be >= 1 (got $k)")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def nullSafeEval(a: Any): Any =
    WordShingles.compute(a.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ops.WordShingles.compute($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShingles {
  private val SPACE = UTF8String.fromString(" ")

  /** `graft_shingles(tokens, k)` as a Column built from the expression
    * itself, so plain `Column => Column` operators need no session. */
  def column(tokens: Column, k: Int): Column = CatalystColumns.wrap(tokens)(WordShingles(_, k))

  /** Tight shingle loop shared by interpreted eval and generated code. */
  def compute(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val m = n - k + 1
    if (m <= 0) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](m)
    val parts = new Array[UTF8String](k)
    var i = 0
    while (i < m) {
      var j = 0
      while (j < k) {
        parts(j) = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(SPACE, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}
