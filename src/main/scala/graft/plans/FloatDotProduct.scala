package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Σ (double)a[i]·(double)b[i] over two Array[Float|Double] columns —
  * the embedding dot product as one loop. Each side may be float or
  * double independently; float elements widen exactly (the same cast the
  * HOF form applies), so the float×double case covers the
  * vector-to-CENTROID similarity (centroids are double literals) with
  * the identical arithmetic.
  *
  * Why native (SURVEY §4 tier b): `aggregate(zip_with(a, b, _*_), 0d, _+_)`
  * materializes the product array and walks it with non-codegen lambda
  * calls; the similarity operators evaluate dots once per (probe,
  * candidate) PAIR, so the allocation cost multiplies by the candidate
  * count (measured ~6x on the label-blocked cosine join) — and the
  * centroid-similarity form evaluates once per corpus ROW.
  *
  * Bit-parity: a strict left-to-right fold starting from +0.0 with each
  * term cast to double before multiply, as the HOF form — so DuckDB's
  * `list_reduce` comprehension oracle keeps matching. Inputs follow
  * [[VectorKernel]]'s contract, with the two lengths equal. */
case class FloatDotProduct(left: Expression, right: Expression)
    extends BinaryExpression with VectorKernel {

  protected def elementTypes: Seq[Seq[DataType]] =
    Seq(VectorKernel.Floating, VectorKernel.Floating)
  protected def lengths: Seq[Int] = Seq(VectorKernel.Same, VectorKernel.Same)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_dot"

  def kernel(x: ArrayData, y: ArrayData): Double = {
    val xf = floats(0)
    val yf = floats(1)
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc = acc + at(x, i, xf) * at(y, i, yf)
      i += 1
    }
    acc
  }
  protected def run(x: ArrayData, y: ArrayData): Any = kernel(x, y)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
