package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Argmin cell assignment against a plan-embedded centroid table:
  * struct(d2, cell) of the nearest centroid by squared L2, with the
  * (d2, cell) lexicographic tie-break — the kernel behind IVF corpus
  * assignment, SemDeDup blocking, prototype pruning, and every KMeans
  * E-step.
  *
  * Why native (SURVEY §4 tier b): the HOF form
  * (`array_min(Similarity.cellDists(...))`) materializes a K-element
  * struct array per ROW and walks K·dim interpreted lambda evals —
  * measured ~310 µs/row at K=8, dim=64 on the x10 rehearsal (and the
  * KMeans fit pays it once per round per row at K=N/500). This is the
  * same math as one double loop over the referenced table.
  *
  * Bit-parity with the HOF form: d2 is the identical left-to-right fold
  * from +0.0 of (cast(x) − c)², and keep-strictly-less over ascending
  * cells IS the lexicographic (d2, cell) minimum; the q73/q96/q151/q162
  * oracles keep matching. The table must be non-empty and rectangular;
  * the vector follows [[VectorKernel]]'s contract, its length the
  * centroid dimension. */
case class CellArgmin(child: Expression, cents: Seq[Seq[Double]])
    extends UnaryExpression with VectorKernel {

  require(cents.nonEmpty && cents.head.nonEmpty &&
    cents.forall(_.length == cents.head.length),
    "centroid table must be non-empty and rectangular")

  protected def elementTypes: Seq[Seq[DataType]] = Seq(VectorKernel.Floating)
  protected def lengths: Seq[Int] = Seq(cents.head.length)
  override def dataType: DataType = StructType(Seq(
    StructField("d2", DoubleType, nullable = false),
    StructField("cell", IntegerType, nullable = false)))
  override def prettyName: String = "cell_argmin"

  private lazy val centsArr: Array[Array[Double]] =
    cents.map(_.toArray).toArray

  def kernel(x: ArrayData): InternalRow = {
    val xf = floats(0)
    val n = x.numElements()
    var bestD = 0.0
    var bestC = -1
    var c = 0
    while (c < centsArr.length) {
      val cv = centsArr(c)
      var acc = 0.0
      var j = 0
      while (j < n) {
        val d = at(x, j, xf) - cv(j)
        acc = acc + d * d
        j += 1
      }
      if (c == 0 || acc < bestD) { bestD = acc; bestC = c }
      c += 1
    }
    new GenericInternalRow(Array[Any](bestD, bestC))
  }
  protected def run(x: ArrayData, y: ArrayData): Any = kernel(x)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
