package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/**
 * Codegen'd exact dot product over two `array<long>` columns — the
 * integer sibling of [[DotProduct]], replacing the interpreted
 * higher-order-function fold `aggregate(zip_with(a, b, _ * _), 0L, _ + _)`
 * in the quantized scoring paths (Pq.encodeFixedLong's per-candidate
 * argmin key, Sq's asymmetric reconstruction score). The HOF form
 * allocates a per-row intermediate array and walks an interpreted
 * expression tree per element; this is one fused primitive loop inside
 * whole-stage codegen.
 *
 * Bit-identical to the fold it replaces on the operators' contract
 * inputs (equal-length, non-null element arrays), and mirrors its edge
 * semantics elsewhere: zip_with null-pads the shorter array, a null
 * element nulls its product, and a null product nulls the whole fold —
 * so mismatched lengths or null elements return NULL. Arithmetic is
 * ANSI-faithful: a product or running-sum overflow throws (the session
 * dialect) rather than wrapping — the operators' magnitude contracts
 * (|coordinate| ≲ 2.4e7 at dim ≤ 16 for PQ, 255-scaled micro-ints for
 * SQ8) keep real data far inside the envelope.
 */
case class LongDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_dot_long expects array<bigint> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot_long"
  // NULL on a length mismatch or a null element even for non-null
  // arrays, so the generated code always declares the isNull it sets
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    LongDotProduct.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("dotL")
      s"""
         |Object $boxed = graft.functions.LongDotProduct.compute($a, $b);
         |if ($boxed == null) { ${ev.isNull} = true; } else {
         |  ${ev.value} = ((java.lang.Long) $boxed).longValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongDotProduct =
    copy(left = newLeft, right = newRight)
}

object LongDotProduct {
  /** The fold's value as a boxed Long, or null under the zip_with
    * null-padding rules (length mismatch / null element). Products are
    * all computed before the fold (zip_with materializes its array
    * first), so an overflowing product throws even when an earlier
    * product was null — exactly the HOF's evaluation order. */
  def compute(a: ArrayData, b: ArrayData): java.lang.Long = {
    val na = a.numElements()
    val nb = b.numElements()
    val n = math.max(na, nb)
    val prod = new Array[Long](n)
    var firstNull = n
    var i = 0
    while (i < n) {
      if (i >= na || i >= nb || a.isNullAt(i) || b.isNullAt(i)) {
        if (i < firstNull) firstNull = i
      } else prod(i) = Math.multiplyExact(a.getLong(i), b.getLong(i))
      i += 1
    }
    var s = 0L
    i = 0
    while (i < firstNull) { s = Math.addExact(s, prod(i)); i += 1 }
    if (firstNull < n) null else java.lang.Long.valueOf(s)
  }
}
