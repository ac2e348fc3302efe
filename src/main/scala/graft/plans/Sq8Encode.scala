package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** SQ8 u8 quantization against plan-embedded per-dimension bounds: one
  * loop producing the code array — the kernel behind `operators/Sq8.encode`.
  *
  * Why native (the PqEncode precedent, guide §4-analog): the HOF form is
  * `transform(sequence(1, dim), j => least(greatest(floor(t_j + 0.5),
  * 0), 255))` with t_j built from two element_at picks per dimension —
  * ~10 interpreted expression evals per dimension per CORPUS row, the
  * per-row projection every SQ8 index build (q160/q161/q169) pays over
  * the whole corpus.
  *
  * Bit-parity with the HOF form: per dimension the operation sequence is
  * replicated STEP FOR STEP —
  *   t  = (mx == mn) ? 0.0 : ((double) v[j] − mn) · 255.0 / (mx − mn)
  *   fl = (long) Math.floor(t + 0.5)      // Spark floor(double): BIGINT
  *   code = (long) Math.min(Math.max((double) fl, 0.0), 255.0)
  * — the long conversion happens exactly where Spark's floor performs it
  * (Scala's .toLong has the NaN → 0 and ±Inf → Long.{Min,Max}
  * semantics), so no NaN ever reaches the min/max chain, exactly as in
  * the greatest/least chain over BIGINT-coerced doubles. The vector
  * follows [[VectorKernel]]'s contract, its length the model's dim. */
case class Sq8Encode(child: Expression, vmins: Seq[Double], vmaxs: Seq[Double])
    extends UnaryExpression with VectorKernel {

  require(vmins.nonEmpty && vmins.length == vmaxs.length,
    "SQ8 model bounds empty or mismatched")

  protected def elementTypes: Seq[Seq[DataType]] = Seq(VectorKernel.Floating)
  protected def lengths: Seq[Int] = Seq(vmins.length)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sq8_encode"

  private lazy val mnArr: Array[Double] = vmins.toArray
  private lazy val mxArr: Array[Double] = vmaxs.toArray

  def kernel(x: ArrayData): ArrayData = {
    val xf = floats(0)
    val out = new Array[Long](mnArr.length)
    var j = 0
    while (j < out.length) {
      val mn = mnArr(j)
      val mx = mxArr(j)
      val t = if (mx == mn) 0.0 else (at(x, j, xf) - mn) * 255.0 / (mx - mn)
      val fl = math.floor(t + 0.5).toLong
      out(j) = math.min(math.max(fl.toDouble, 0.0), 255.0).toLong
      j += 1
    }
    new GenericArrayData(out)
  }
  protected def run(x: ArrayData, y: ArrayData): Any = kernel(x)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
