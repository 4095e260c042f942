package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import graft.core.SavGol

/** Per-record Savitzky-Golay residual noise level, the inner term of the
  * reference's epsilon (tabata instants.py:276-295): given one record's
  * signal as a t-sorted `array<double>`, returns
  * `stddev_pop( SG_w(x, d) − SG_{2w+1}(SG_w(x, d), d) )`, or null when the
  * record is shorter than `2w+1` samples (the record then simply does not
  * participate in the global `max`, exactly as the windowed formulation's
  * null-guarded residual behaves under Spark's null-ignoring aggregates).
  *
  * Two passes of [[SavGol.filter]] (the loop [[SgFilter]] runs), then
  * Spark's `CentralMomentAgg` Welford update (delta/deltaN/m2) over the
  * residuals in ascending t order: the exact state sequence `stddev_pop`
  * produces downstream of a (record, t)-sorted window, so the epsilon
  * matches the windowed formulation in the test `ReferenceTwins`
  * bit-for-bit (pinned by SelectorSpec). Poisoned (null) residuals are
  * skipped, as under a null-ignoring aggregate. Records shorter than 2w+1
  * return null BEFORE the edge-null check (the windowed chain raises for
  * such records when a wider combo shares the frame; with no nulls in the
  * data — the engine's clean-signal contract — the difference is
  * unobservable).
  *
  * Evaluation is interpreted ([[CodegenFallback]]): the expression runs
  * once per RECORD (thousands of evaluations), not once per sample — codegen
  * would save nothing, and the loop body is already primitive arrays.
  */
case class SgResidualStddev(child: Expression, w: Int, deg: Int, deriv: Int)
  extends UnaryExpression with CodegenFallback {

  require(w >= 3 && w % 2 == 1, s"graft_sg_eps: window $w must be odd and >= 3")
  require(deg < w, s"graft_sg_eps: degree $deg must be < window $w")
  require(deriv >= 0, s"graft_sg_eps: derivative order $deriv must be >= 0")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_sg_eps expects array<double>, got $other")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_sg_eps"

  private val w2 = 2 * w + 1
  @transient private lazy val cw1 = SavGol.centralWeights(w, deg, deriv)
  @transient private lazy val ew1 = SavGol.edgeWeights(w, deg, deriv)
  @transient private lazy val cw2 = SavGol.centralWeights(w2, deg, deriv)
  @transient private lazy val ew2 = SavGol.edgeWeights(w2, deg, deriv)

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < w2) return null
    val (x, xn) = SgFilter.samples(arr)
    val (b, bn) = SavGol.filter(x, xn, w, deriv, cw1, ew1, prettyName)
    val (s2, s2n) = SavGol.filter(b, bn, w2, deriv, cw2, ew2, prettyName)
    // Spark CentralMomentAgg update, residuals in ascending t order
    var cnt = 0.0
    var mean = 0.0
    var m2 = 0.0
    var i = 0
    while (i < n) {
      if (!bn(i) && !s2n(i)) {
        val r = b(i) - s2(i)
        cnt += 1.0
        val delta = r - mean
        val deltaN = delta / cnt
        mean += deltaN
        m2 += delta * (delta - deltaN)
      }
      i += 1
    }
    if (cnt == 0.0) null else math.sqrt(m2 / cnt)
  }

  override protected def withNewChildInternal(newChild: Expression): SgResidualStddev =
    copy(child = newChild)
}
