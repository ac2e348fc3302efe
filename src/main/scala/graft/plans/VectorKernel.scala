package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Shared base of the native vector kernels — `FloatDotProduct`,
  * `SqL2Dist`, `CellArgmin`, `Sq8Encode`, `Sq8AdcDist`, `PqEncode` and
  * `PqAdcDist`. Each replaces a HOF form (`zip_with`/`transform`/
  * `aggregate` over `element_at` picks) that pays interpreted lambda
  * evaluation per element, with one loop over its one or two array
  * inputs.
  *
  * A kernel writes that loop once, as a public method `kernel` over its
  * inputs as `ArrayData`, returning the result's Java type (a primitive
  * double for a DoubleType result, so generated code boxes nothing per
  * row); `run` hands the same loop to the interpreted path. This base
  * owns the rest: the input type check, the contract check, nullability,
  * and the generated code, which is
  * `if (valid(x, y)) value = kernel(x, y) else isNull = true`.
  *
  * The contract: the result is null when an input is null, when an
  * input's length differs from the model's ([[lengths]]; inputs marked
  * [[VectorKernel.Same]] must have equal lengths), when an element is
  * null, or when [[inRange]] fails. Otherwise the result is bit-identical
  * to the kernel's HOF form, whose operation order the loop replicates.
  * The HOF forms return null (`zip_with` pads the short side with null)
  * or raise (`element_at` out of bounds, under the default ANSI mode) on
  * the inputs rejected here, save two: a vector longer than the model,
  * whose tail the `sequence(1, dim)` HOF forms never read, and a PQ code
  * outside [0, K), which the HOF form resolves to a cell of another
  * subspace. The null scan runs only on inputs whose type admits null
  * elements.
  */
trait VectorKernel extends Expression {

  /** Element types each input accepts, in child order. */
  protected def elementTypes: Seq[Seq[DataType]]

  /** Length each input must have, in child order; [[VectorKernel.Same]]
    * inputs must have equal lengths. */
  protected def lengths: Seq[Int]

  /** A condition on values beyond lengths and nulls, checked after both. */
  protected def inRange(x: ArrayData, y: ArrayData): Boolean = true

  /** The interpreted path's call of `kernel` on inputs that passed
    * [[valid]]; `y` is null for a one-input kernel. */
  protected def run(x: ArrayData, y: ArrayData): Any

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = children.length == elementTypes.length &&
      children.zip(elementTypes).forall { case (c, es) =>
        c.dataType match {
          case ArrayType(e, _) => es.contains(e)
          case _ => false
        }
      }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires " +
      elementTypes.map(_.map(_.simpleString).mkString("array<", "|", ">")).mkString(", ") +
      " inputs, got " + children.map(_.dataType.simpleString).mkString(", "))
  }

  /** Per input, whether its elements are floats; kernels read this once
    * per row, outside their loops, and pass it to [[at]]. */
  @transient protected lazy val floats: Array[Boolean] =
    children.map(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }).toArray

  /** Element `i` of an array<float|double> as a double (a float widens
    * exactly, as `cast(x as double)` does); `isFloat` is loop-invariant. */
  protected final def at(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  @transient private lazy val want: Array[Int] = lengths.toArray
  @transient private lazy val mayHoldNull: Array[Boolean] =
    children.map(_.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => true
    }).toArray

  private def fits(n: Int, w: Int, other: Int): Boolean =
    if (w == VectorKernel.Same) n == other else n == w

  private def hasNull(a: ArrayData): Boolean = {
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** The contract check on non-null inputs; `y` is null for a one-input
    * kernel. */
  final def valid(x: ArrayData, y: ArrayData): Boolean = {
    val nx = x.numElements()
    val ny = if (y == null) nx else y.numElements()
    fits(nx, want(0), ny) && (y == null || fits(ny, want(1), nx)) &&
      !(mayHoldNull(0) && hasNull(x)) &&
      !(y != null && mayHoldNull(1) && hasNull(y)) &&
      inRange(x, y)
  }

  override def eval(row: InternalRow): Any = {
    val x = children.head.eval(row).asInstanceOf[ArrayData]
    val y = if (children.length > 1) children(1).eval(row).asInstanceOf[ArrayData] else null
    if (x == null || (children.length > 1 && y == null) || !valid(x, y)) null
    else run(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("kernel", this, getClass.getName)
    val in = children.map(_.genCode(ctx))
    val args = in.map(_.value.toString)
    val validArgs = if (args.length == 1) s"${args.head}, null" else args.mkString(", ")
    val call =
      s"""if ($self.valid($validArgs)) {
         |  ${ev.isNull} = false;
         |  ${ev.value} = $self.kernel(${args.mkString(", ")});
         |}""".stripMargin
    val guarded = children.zip(in).foldRight(call) { case ((c, g), body) =>
      ctx.nullSafeExec(c.nullable, g.isNull)(body)
    }
    ev.copy(code = in.map(_.code).reduce(_ + _) +
      code"""
        boolean ${ev.isNull} = true;
        ${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $guarded
      """)
  }
}

object VectorKernel {
  /** [[VectorKernel.lengths]] entry: the length of the other input. */
  val Same: Int = -1
  /** The array<float|double> inputs. */
  val Floating: Seq[DataType] = Seq(FloatType, DoubleType)
}
