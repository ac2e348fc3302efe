package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Squared L2 distance between two numeric arrays as one loop — the
  * pair-verification kernel of the density-clustering family
  * (DBSCAN/HDBSCAN candidate joins evaluate it once per candidate PAIR;
  * the HOF `aggregate(zip_with(...))` form pays interpreted lambda eval
  * per dimension per pair, the same shape `Sq8AdcDist`/`CellArgmin`
  * replaced).
  *
  * Bit-parity with the HOF fold: strict left-to-right accumulation from
  * +0.0 of (x − y)² with float inputs widened per element — so the
  * q85/q87/q89 oracles keep matching. Inputs follow [[VectorKernel]]'s
  * contract, with the two lengths equal. */
case class SqL2Dist(left: Expression, right: Expression)
    extends BinaryExpression with VectorKernel {

  protected def elementTypes: Seq[Seq[DataType]] =
    Seq(VectorKernel.Floating, VectorKernel.Floating)
  protected def lengths: Seq[Int] = Seq(VectorKernel.Same, VectorKernel.Same)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq_l2_dist"

  def kernel(x: ArrayData, y: ArrayData): Double = {
    val xf = floats(0)
    val yf = floats(1)
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = at(x, i, xf) - at(y, i, yf)
      acc = acc + d * d
      i += 1
    }
    acc
  }
  protected def run(x: ArrayData, y: ArrayData): Any = kernel(x, y)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
