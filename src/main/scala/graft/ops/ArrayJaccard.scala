package graft.ops

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.util.Arrays

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Jaccard similarity of two long-array columns as ONE sort+merge loop per
  * row, bit-identical to the column form it replaces:
  *
  *   round(size(array_intersect(a, b)) /
  *         cast(greatest(size(array_union(a, b)), 1) as double), 4)
  *
  * array_intersect/array_union are DISTINCT-set operations, so the merge
  * counts distinct values: copy + sort both arrays (n log n over ~50
  * elements), then one linear merge tallies |A∩B| and |A∪B| skipping
  * duplicates. The division is the same double division (int counts cast
  * to double) and the round-to-4 is HALF_UP on the decimal string
  * representation (BigDecimal.valueOf — what Spark's round() does for
  * doubles), so the value equals the old expression's to the last bit —
  * and hence still matches the DuckDB oracle, which recomputes the set
  * sizes its own way.
  *
  * Exists for guide §4 reasons: Spark's array_intersect and array_union
  * each build a hash set per ROW — on the r8 stage audit the ngram verify
  * stage spent 8.6 s of task CPU in those builders for 435k candidate
  * pairs; the merge loop does the same counting in primitive arrays.
  * Null ELEMENTS follow the set semantics (null is one distinct member;
  * in the intersection iff present in both sides) — unreachable from
  * graft_shingle_hashes output, but exact anyway. */
case class ArrayJaccard(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_jaccard"

  override def checkInputDataTypes(): TypeCheckResult =
    Seq(left, right).map(_.dataType).find {
      case ArrayType(LongType, _) => false
      case _ => true
    }.fold[TypeCheckResult](TypeCheckSuccess)(t =>
      TypeCheckFailure(s"graft_jaccard expects array<bigint>, got ${t.catalogString}"))

  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayJaccard.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.ops.ArrayJaccard.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ArrayJaccard {

  /** Distinct non-null values of `arr`, sorted ascending; nullSeen flags
    * whether a null element was present (a distinct set member of its
    * own under array_union/array_intersect semantics). */
  private def sortedDistinct(arr: ArrayData): (Array[Long], Boolean) = {
    val n = arr.numElements()
    val vs = new Array[Long](n)
    var m = 0
    var hasNull = false
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) hasNull = true
      else { vs(m) = arr.getLong(i); m += 1 }
      i += 1
    }
    val trimmed = if (m == n) vs else Arrays.copyOf(vs, m)
    Arrays.sort(trimmed)
    // dedupe in place
    var w = 0
    i = 0
    while (i < trimmed.length) {
      if (w == 0 || trimmed(i) != trimmed(w - 1)) { trimmed(w) = trimmed(i); w += 1 }
      i += 1
    }
    (if (w == trimmed.length) trimmed else Arrays.copyOf(trimmed, w), hasNull)
  }

  /** Shared by interpreted eval and codegen. */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val (xs, nullA) = sortedDistinct(a)
    val (ys, nullB) = sortedDistinct(b)
    var i = 0; var j = 0
    var inter = 0L; var union = 0L
    while (i < xs.length && j < ys.length) {
      val x = xs(i); val y = ys(j)
      union += 1
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    union += (xs.length - i) + (ys.length - j)
    if (nullA || nullB) union += 1
    if (nullA && nullB) inter += 1
    val denom = math.max(union, 1L)
    JBigDecimal.valueOf(inter.toDouble / denom.toDouble)
      .setScale(4, RoundingMode.HALF_UP).doubleValue()
  }

  // WeakHashMap keyed by session (same idempotent-registration scheme and
  // rationale as ArrayDotProduct.ensure)
  private val registeredFor = new java.util.WeakHashMap[SparkSession, Unit]()

  /** Register `graft_jaccard(a, b)` with the session's function registry,
    * idempotent per session. */
  def ensure(spark: SparkSession): Unit = registeredFor.synchronized {
    if (registeredFor.containsKey(spark)) return
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_jaccard",
      { children =>
        require(children.size == 2, "graft_jaccard takes exactly 2 arguments")
        ArrayJaccard(children.head, children(1))
      },
      "built-in")
    registeredFor.put(spark, ())
  }
}
