package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import graft.core.SavGol

/** Savitzky-Golay filter of one record (tabata instants.py:76, scipy's
  * `savgol_filter` in `mode='interp'`): the record's t-sorted
  * `array<double>` in, the filtered array out, null when the record is
  * shorter than `w`. The loop is [[SavGol.filter]], shared with
  * [[SgResidualStddev]]. Interpreted ([[CodegenFallback]]): it runs once
  * per RECORD, so codegen would save nothing and no class is compiled.
  */
case class SgFilter(child: Expression, w: Int, deg: Int, deriv: Int)
  extends UnaryExpression with CodegenFallback {

  require(w >= 3 && w % 2 == 1, s"graft_sg: window $w must be odd and >= 3")
  require(deg < w, s"graft_sg: degree $deg must be < window $w")
  require(deriv >= 0, s"graft_sg: derivative order $deriv must be >= 0")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_sg expects array<double>, got $other")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_sg"

  @transient private lazy val cw = SavGol.centralWeights(w, deg, deriv)
  @transient private lazy val ew = SavGol.edgeWeights(w, deg, deriv)

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < w) return null
    val (x, xn) = SgFilter.samples(arr)
    val (out, on) = SavGol.filter(x, xn, w, deriv, cw, ew, prettyName)
    if (!on.contains(true)) UnsafeArrayData.fromPrimitiveArray(out)
    else new GenericArrayData(Array.tabulate[Any](n)(i => if (on(i)) null else out(i)))
  }

  override protected def withNewChildInternal(newChild: Expression): SgFilter =
    copy(child = newChild)
}

object SgFilter {

  /** An `array<double>`'s values and null mask as primitive arrays. */
  def samples(arr: ArrayData): (Array[Double], Array[Boolean]) = {
    val n = arr.numElements()
    val x = new Array[Double](n)
    val xn = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) xn(i) = true else x(i) = arr.getDouble(i)
      i += 1
    }
    (x, xn)
  }
}
