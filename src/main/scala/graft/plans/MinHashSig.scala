package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** MinHash signature — k per-row minima of (a_i·x + b_i) mod P over a
  * hashed-shingle set — in ONE pass over the input array.
  *
  * The HOF form (`array_min(transform(xs, ...))` × k) walks and
  * materializes the array k times per row; at corpus scale the signature
  * stage is per-row work over every document, so the k-accumulator loop
  * matters. Coefficients are the same deterministic schedule as
  * `Dedup.aCoef/bCoef` (spec-asserted), so signatures are bit-identical
  * to the HOF form and the DuckDB oracle.
  *
  * Returns NULL for an empty input set (array_min of an empty transform
  * is null — same contract as the HOF form).
  */
case class MinHashSig(child: Expression, k: Int) extends MinHashKernel {
  require(k >= 1, "signature length must be >= 1")

  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(v: Any): Any =
    MinHashSig.compute(v.asInstanceOf[ArrayData], k)

  override protected def call(xs: String): String = s"graft.plans.MinHashSig.compute($xs, $k)"

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** LSH band hashes — for each of `bands` bands, the fold
  * `h = (h * 31 + m) mod P` over its r = k / bands consecutive MinHash
  * minima — in the same one pass as [[MinHashSig]]: the k minima are
  * folded into `bands` longs per row and never leave the kernel.
  *
  * Bit-identical to the column form (`HofForms.bandHash` over
  * `Dedup.minhashCols`, spec-proven); an LSH operator stores this array
  * next to the shingle set, so every consumer reads the bands instead
  * of recomputing the signature. NULL for an empty input set, like
  * [[MinHashSig]] (`posexplode` of it yields no band rows).
  */
case class MinHashBands(child: Expression, k: Int, bands: Int) extends MinHashKernel {
  require(bands >= 1 && k >= bands && k % bands == 0, "k must divide into equal bands")

  override def prettyName: String = "minhash_bands"

  override def nullSafeEval(v: Any): Any =
    MinHashSig.bands(v.asInstanceOf[ArrayData], k, bands)

  override protected def call(xs: String): String =
    s"graft.plans.MinHashSig.bands($xs, $k, $bands)"

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The shared shape of the MinHash kernels: an array<long> set in, a
  * null-free long array out, NULL for an empty set. */
sealed trait MinHashKernel extends UnaryExpression {
  /** The Java call computing the result (ArrayData, null for empty) from `xs`. */
  protected def call(xs: String): String

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName needs array<long>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val res = ctx.freshName("sigRes")
    nullSafeCodeGen(ctx, ev, xs =>
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $res = ${call(xs)};
         |if ($res == null) { ${ev.isNull} = true; } else { ${ev.value} = $res; }
       """.stripMargin)
  }
}

object MinHashSig {
  val P = 1000000007L
  def aCoef(i: Int): Long = (i.toLong * 2654435761L) % P + 1
  def bCoef(i: Int): Long = (i.toLong * 40503L * 65537L) % P

  /** Both coefficient schedules up to the longest signature asked for so
    * far, so a row pays no per-row allocation or modulo for them. Grown
    * (never shrunk) by whichever thread first needs more; a reader sees
    * either the old pair or the new one, both correct on their prefix. */
  @volatile private var coefs: (Array[Long], Array[Long]) = (Array.empty, Array.empty)

  private def coefsFor(k: Int): (Array[Long], Array[Long]) = {
    val c = coefs
    if (c._1.length >= k) c
    else synchronized {
      if (coefs._1.length < k) coefs = (Array.tabulate(k)(aCoef), Array.tabulate(k)(bCoef))
      coefs
    }
  }

  /** The k minima, or null for empty input (the HOF form's array_min-of-empty). */
  private def minima(xs: ArrayData, k: Int): Array[Long] = {
    val n = xs.numElements()
    if (n == 0) return null
    val c = coefsFor(k) // not `val (as, bs) =`: that rebuilds the tuple per row
    val as = c._1
    val bs = c._2
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val x = xs.getLong(i)
      var j = 0
      while (j < k) {
        val h = (as(j) * x + bs(j)) % P
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    mins
  }

  /** Null for empty input (the HOF form's array_min-of-empty). */
  def compute(xs: ArrayData, k: Int): ArrayData = {
    val mins = minima(xs, k)
    if (mins == null) null else new GenericArrayData(mins)
  }

  /** [[MinHashBands]]: band b folds minima b·r until (b+1)·r. */
  def bands(xs: ArrayData, k: Int, bands: Int): ArrayData = {
    val mins = minima(xs, k)
    if (mins == null) return null
    val r = k / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = mins(b * r)
      var j = b * r + 1
      while (j < (b + 1) * r) {
        h = (h * 31 + mins(j)) % P
        j += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }
}
