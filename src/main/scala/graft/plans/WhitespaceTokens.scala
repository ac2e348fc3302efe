package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, Lower, StringSplit, StringTrim, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Whitespace tokens of the normalized text — the native form of
  * `split(lower(trim(c)), "\\s+")`, which `TextAnalysis.tokens` and every
  * tokenizing operator start from.
  *
  * Why native: Spark runs that split by decoding each row to a Java
  * `String`, compiling the `\s+` pattern again for every row and
  * re-encoding each token; the lower-case and trim before it copy the
  * row twice more. This expression trims, lower-cases and splits with
  * one loop over the UTF-8 bytes, run once to count the tokens and once
  * more to store them.
  *
  * Exactness: for ASCII rows the loop trims 0x20 at both ends (Spark's
  * `trim`), lower-cases A–Z and cuts at maximal runs of the six bytes
  * Java's `\s` matches; like `String.split(_, -1)` it keeps a leading or
  * trailing `""` and gives `[""]` for an empty row. A row holding any
  * non-ASCII byte is evaluated by Spark's own `lower`/`trim`/`split`
  * expressions, so its case mapping follows the session's settings;
  * such a row pays the counting loop up to that byte and allocates
  * nothing before Spark's path. Only the default UTF8_BINARY string is
  * accepted: a collated string lower-cases and splits by its collation,
  * which this loop does not.
  */
case class WhitespaceTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "whitespace_tokens"

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String]
    val t = WhitespaceTokens.tokens(s)
    if (t != null) t else reference(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("wsTokens", this)
    nullSafeCodeGen(ctx, ev, s =>
      s"""
         |${ev.value} = graft.plans.WhitespaceTokens.tokens($s);
         |if (${ev.value} == null) ${ev.value} = $self.reference($s);
       """.stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case st: StringType if st.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a UTF8_BINARY string (no collation), got ${t.catalogString}")
  }

  /** `split(lower(trim(s)), "\\s+")` over one bound value. */
  @transient private lazy val sparkForm: Expression =
    StringSplit(Lower(StringTrim(BoundReference(0, StringType, nullable = false))),
      Literal("\\s+"), Literal(-1))

  /** Spark's tokens of a non-null `s`: the path of non-ASCII rows. */
  def reference(s: UTF8String): ArrayData =
    sparkForm.eval(InternalRow(s)).asInstanceOf[ArrayData]
}

object WhitespaceTokens {

  /** The bytes Java's `\s` matches: `\t \n \x0B \f \r` and space. */
  private def isSpace(b: Byte): Boolean = b == 0x20 || (b >= 0x09 && b <= 0x0d)

  /** One pass over the bytes of `s` between its first and last non-0x20
    * byte: the number of tokens, or -1 at the first non-ASCII byte. With
    * `out`, sized by a pass without it, also stores every token,
    * lower-cased, in it. */
  private def scan(s: UTF8String, out: Array[Any]): Int = {
    var from = 0
    var to = s.numBytes()
    while (from < to && s.getByte(from) == 0x20) from += 1
    while (to > from && s.getByte(to - 1) == 0x20) to -= 1
    var k = 0
    var start = from // of the current token
    var i = from
    while (i < to) {
      val b = s.getByte(i)
      if (b < 0) return -1
      if (isSpace(b)) {
        if (out != null) out(k) = lowered(s, start, i)
        k += 1
        i += 1
        while (i < to && isSpace(s.getByte(i))) i += 1
        start = i
      } else i += 1
    }
    if (out != null) out(k) = lowered(s, start, to)
    k + 1
  }

  /** Bytes [start, end) of the ASCII `s`, A–Z lower-cased, as a new string. */
  private def lowered(s: UTF8String, start: Int, end: Int): UTF8String = {
    val b = new Array[Byte](end - start)
    var i = 0
    while (i < b.length) {
      val c = s.getByte(start + i)
      b(i) = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
      i += 1
    }
    UTF8String.fromBytes(b)
  }

  /** The tokens of `s`, or null if it holds a non-ASCII byte: the count
    * first, so such a row allocates nothing before Spark's path. */
  def tokens(s: UTF8String): ArrayData = {
    val n = scan(s, null)
    if (n < 0) return null
    val out = new Array[Any](n)
    scan(s, out)
    new GenericArrayData(out)
  }
}
