package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Squared L2 between a float-derived probe vector (array<double>) and
  * an SQ8 code row (array<long>), dequantizing each dimension in place
  * against the plan-embedded per-dimension (min, max) model:
  *
  *   acc += (qv[j] − (mn[j] + code[j]·(mx[j] − mn[j]) / 255))²
  *
  * Why native (SURVEY §4 tier b): the HOF form evaluates once per
  * (probe, candidate) PAIR and its lambda walks four element_at's per
  * dimension through interpreted eval — measured ~23 µs/pair at dim 64
  * on the x10 rehearsal corpus. This is the same loop as one pass with
  * the model arrays as plan references.
  *
  * Bit-parity with `HofForms.sq8AdcDistHof` (test sources): a strict left-to-right
  * fold from +0.0 with the identical op order mn + (c·(mx−mn))/255, then
  * diff·diff added — so the DuckDB oracle keeps matching. Both inputs
  * follow [[VectorKernel]]'s contract, their lengths the model's dim. */
case class Sq8AdcDist(left: Expression, right: Expression,
    vmins: Seq[Double], vmaxs: Seq[Double])
    extends BinaryExpression with VectorKernel {

  require(vmins.nonEmpty && vmins.length == vmaxs.length,
    "SQ8 model bounds empty or mismatched")

  protected def elementTypes: Seq[Seq[DataType]] = Seq(Seq(DoubleType), Seq(LongType))
  protected def lengths: Seq[Int] = Seq(vmins.length, vmins.length)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq8_adc_dist"

  private lazy val minsArr: Array[Double] = vmins.toArray
  private lazy val maxsArr: Array[Double] = vmaxs.toArray

  def kernel(qv: ArrayData, codes: ArrayData): Double = {
    var acc = 0.0
    var i = 0
    while (i < minsArr.length) {
      val mn = minsArr(i)
      val mx = maxsArr(i)
      val diff = qv.getDouble(i) - (mn + codes.getLong(i).toDouble * (mx - mn) / 255.0)
      acc = acc + diff * diff
      i += 1
    }
    acc
  }
  protected def run(x: ArrayData, y: ArrayData): Any = kernel(x, y)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
