package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructType}

/**
 * Codegen'd ranking of a vector v against a driver-held matrix `rows`.
 * Row i's key is d = −2·v·rows(i) + |rows(i)|² — |v − rows(i)|² minus the
 * row-constant |v|² — with the dot summed left to right over the common
 * prefix (a NULL element counts as 0, as in [[DotProduct]]) and |rows(i)|²
 * summed left to right on the driver. Rows order by (key, i) under Spark's
 * double ordering: −0.0 = 0.0, NaN above every number, the lower index
 * first on equal keys.
 *
 * `top` = None gives the first row in that order as the struct (d, i);
 * `top` = Some(n) gives the first n row indices in that order as
 * `array<int>` (all of them when n ≥ the row count, none when n = 0). A
 * NULL vector gives NULL. One primitive loop behind a single call, so a
 * stage that ranks m subspaces of k codewords keeps a small generated
 * method whatever k is. `rows` must be non-empty.
 */
case class NearestRow(child: Expression, rows: Seq[Seq[Double]],
    top: Option[Int] = None) extends UnaryExpression {
  require(top.forall(_ >= 0), s"graft_nearest_row: top must be ≥ 0, got $top")

  private lazy val matrix: Array[Array[Double]] = rows.map(_.toArray).toArray
  private lazy val norms: Array[Double] =
    rows.map(_.foldLeft(0.0)((s, x) => s + x * x)).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) if rows.nonEmpty => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_row expects array<double> input and rows, got $t")
  }

  override def dataType: DataType = top match {
    case None => new StructType()
      .add("d", DoubleType, nullable = false).add("i", IntegerType, nullable = false)
    case Some(_) => ArrayType(IntegerType, containsNull = false)
  }

  override def prettyName: String = "graft_nearest_row"

  // declared nullable whatever the input, so a written cell column keeps
  // the optional parquet type every existing index was written with
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any = top match {
    case None => NearestRow.nearest(v.asInstanceOf[ArrayData], matrix, norms)
    case Some(n) => NearestRow.nearestN(v.asInstanceOf[ArrayData], matrix, norms, n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("matrix", matrix, "double[][]")
    val n = ctx.addReferenceObj("norms", norms, "double[]")
    defineCodeGen(ctx, ev, v => top match {
      case None => s"graft.functions.NearestRow.nearest($v, $m, $n)"
      case Some(t) => s"graft.functions.NearestRow.nearestN($v, $m, $n, $t)"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NearestRow =
    copy(child = newChild)
}

object NearestRow {
  /** The struct (d, i) of the first row in (key, index) order. */
  def nearest(v: ArrayData, matrix: Array[Array[Double]],
      norms: Array[Double]): InternalRow = {
    val keys = new Array[Double](1)
    val idx = new Array[Int](1)
    rank(v, matrix, norms, keys, idx)
    new GenericInternalRow(Array[Any](keys(0), idx(0)))
  }

  /** The first min(n, rows) row indices in (key, index) order. */
  def nearestN(v: ArrayData, matrix: Array[Array[Double]],
      norms: Array[Double], n: Int): ArrayData = {
    val len = math.min(n, matrix.length)
    val idx = new Array[Int](len)
    rank(v, matrix, norms, new Array[Double](len), idx)
    UnsafeArrayData.fromPrimitiveArray(idx)
  }

  /** Fills `keys`/`idx` with the first keys.length rows in (key, index)
    * order, by insertion: rows arrive in ascending index, so a row never
    * passes a kept row of equal key. */
  private def rank(v: ArrayData, matrix: Array[Array[Double]],
      norms: Array[Double], keys: Array[Double], idx: Array[Int]): Unit = {
    val len = keys.length
    var filled = 0
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
      var at = filled
      while (at > 0 && SQLOrderingUtil.compareDoubles(d, keys(at - 1)) < 0) at -= 1
      if (at < len) {
        val last = math.min(filled, len - 1)
        System.arraycopy(keys, at, keys, at + 1, last - at)
        System.arraycopy(idx, at, idx, at + 1, last - at)
        keys(at) = d
        idx(at) = i
        if (filled < len) filled += 1
      }
      i += 1
    }
  }
}
