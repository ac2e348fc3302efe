package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** PQ code assignment against a plan-embedded codebook: per subspace s,
  * the index of the FIRST minimum squared-L2 codebook entry — the
  * kernel behind `operators/Pq.encode`.
  *
  * Why native (SURVEY §4 tier b): the HOF form materializes an M×K
  * distance matrix per ROW through three nested interpreted lambdas
  * (M·K·SubDim element_at evals — the dominant stage of q117's corpus
  * encode). This is the same math as one triple loop over the codebook.
  *
  * Bit-parity with the HOF form: per (s, k) the distance is the
  * identical left-to-right fold from +0.0 of (cast(x) − c)², and
  * keep-strictly-less over ascending k IS
  * `array_position(ds, array_min(ds)) − 1` (first minimum); the
  * q116/q117 oracles keep matching. The codebook must be non-empty and
  * rectangular (M × K × SubDim); the vector follows [[VectorKernel]]'s
  * contract, its length M·SubDim. */
case class PqEncode(child: Expression, codebook: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with VectorKernel {

  require(codebook.nonEmpty && codebook.head.nonEmpty && codebook.head.head.nonEmpty &&
    codebook.forall(s => s.length == codebook.head.length &&
      s.forall(_.length == codebook.head.head.length)),
    "PQ codebook must be non-empty and rectangular")

  private def m = codebook.length
  private def subDim = codebook.head.head.length

  protected def elementTypes: Seq[Seq[DataType]] = Seq(VectorKernel.Floating)
  protected def lengths: Seq[Int] = Seq(m * subDim)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  private lazy val cb: Array[Array[Array[Double]]] =
    codebook.map(_.map(_.toArray).toArray).toArray

  def kernel(x: ArrayData): ArrayData = {
    val xf = floats(0)
    val out = new Array[Int](cb.length)
    var s = 0
    while (s < cb.length) {
      val sub = cb(s)
      val base = s * sub(0).length
      var bestD = 0.0
      var bestK = -1
      var k = 0
      while (k < sub.length) {
        val c = sub(k)
        var acc = 0.0
        var j = 0
        while (j < c.length) {
          val d = at(x, base + j, xf) - c(j)
          acc = acc + d * d
          j += 1
        }
        if (k == 0 || acc < bestD) { bestD = acc; bestK = k }
        k += 1
      }
      out(s) = bestK
      s += 1
    }
    new GenericArrayData(out)
  }
  protected def run(x: ArrayData, y: ArrayData): Any = kernel(x)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** ADC distance of a PQ code row against a probe's flattened lookup
  * table: Σ_s lut[s·K + codes[s]] as one loop — the kernel behind
  * `operators/Pq.adcDist`, which the HOF form evaluated once per
  * (probe, candidate) PAIR through an interpreted aggregate lambda.
  * Bit-parity: identical left-to-right adds from +0.0. Inputs follow
  * [[VectorKernel]]'s contract: the LUT has M·K entries, the code row M,
  * each code in [0, K). */
case class PqAdcDist(left: Expression, right: Expression, m: Int, k: Int)
    extends BinaryExpression with VectorKernel {

  require(m > 0 && k > 0, "PQ shape must be positive")

  protected def elementTypes: Seq[Seq[DataType]] = Seq(Seq(DoubleType), Seq(IntegerType))
  protected def lengths: Seq[Int] = Seq(m * k, m)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_dist"

  override protected def inRange(lut: ArrayData, codes: ArrayData): Boolean = {
    var s = 0
    while (s < m) {
      val c = codes.getInt(s)
      if (c < 0 || c >= k) return false
      s += 1
    }
    true
  }

  def kernel(lut: ArrayData, codes: ArrayData): Double = {
    var acc = 0.0
    var s = 0
    while (s < m) {
      acc = acc + lut.getDouble(s * k + codes.getInt(s))
      s += 1
    }
    acc
  }
  protected def run(x: ArrayData, y: ArrayData): Any = kernel(x, y)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
