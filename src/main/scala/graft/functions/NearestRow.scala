package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructType}

/**
 * Codegen'd nearest row of a driver-held matrix: the struct (d, i) of the
 * row i minimizing the rank key d = −2·v·rows(i) + |rows(i)|², lowest i on
 * ties. It equals `array_min` over [[graft.operators.Ivf]]'s unrolled
 * (key, index) structs bit for bit — the same sequential dot, |c|² summed
 * left to right, and Spark's double ordering (−0.0 = 0.0, NaN above all)
 * — but runs as one primitive loop behind a single call, so a stage that
 * ranks m subspaces of k codewords keeps a small generated method
 * instead of m·k inlined dot loops.
 *
 * A NULL vector gives NULL; a vector shorter or longer than a row dots
 * over the common prefix, as [[DotProduct]] does. `rows` must be
 * non-empty.
 */
case class NearestRow(child: Expression, rows: Seq[Seq[Double]])
    extends UnaryExpression {

  private lazy val matrix: Array[Array[Double]] = rows.map(_.toArray).toArray
  private lazy val norms: Array[Double] =
    rows.map(_.foldLeft(0.0)((s, x) => s + x * x)).toArray

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) if rows.nonEmpty =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_nearest_row expects array<double> input and rows, got $t")
    }

  override def dataType: DataType = new StructType()
    .add("d", DoubleType, nullable = false).add("i", IntegerType, nullable = false)

  override def prettyName: String = "graft_nearest_row"

  override def nullSafeEval(v: Any): Any =
    NearestRow.compute(v.asInstanceOf[ArrayData], matrix, norms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("matrix", matrix, "double[][]")
    val n = ctx.addReferenceObj("norms", norms, "double[]")
    defineCodeGen(ctx, ev, v => s"graft.functions.NearestRow.compute($v, $m, $n)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestRow =
    copy(child = newChild)
}

object NearestRow {
  def compute(v: ArrayData, matrix: Array[Array[Double]],
      norms: Array[Double]): InternalRow = {
    var best = 0.0
    var bi = -1
    var i = 0
    while (i < matrix.length) {
      val c = matrix(i)
      val n = math.min(v.numElements(), c.length)
      var s = 0.0
      var p = 0
      while (p < n) {
        if (!v.isNullAt(p)) s += v.getDouble(p) * c(p)
        p += 1
      }
      val d = -2.0 * s + norms(i)
      if (bi < 0 || SQLOrderingUtil.compareDoubles(d, best) < 0) {
        best = d
        bi = i
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](best, bi))
  }
}
