package graft.plans

import graft.SourceScan.offenders
import graft.SparkSpec
import graft.functions.TextAnalysis
import graft.operators.HofForms
import org.apache.spark.sql.{AnalysisException, Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The whitespace tokenizer (graft.plans.WhitespaceTokens) against
  * Spark's regex split, the one tokenizer rule of main code, and the
  * inputs the kernel refuses. */
class WhitespaceTokensSpec extends SparkSpec {

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(8)
    .withInitialSeed(org.scalacheck.rng.Seed(20261020L))

  /** The six bytes Java's `\s` matches. */
  private val javaSpace = Seq(' ', '\t', '\n', '\u000b', '\f', '\r')
  private val letters = ('A' to 'Z') ++ ('a' to 'z')
  /** Control bytes next to the whitespace range that `\s` does not match. */
  private val notSpace = Seq('\u001c', '\u001d', '\u001e', '\u001f')
  /** É, dotted İ (its lower case differs between case mappings), and two
    * Unicode spaces `\s` does not match. */
  private val nonAscii = Seq('\u00c9', '\u0130', '\u00a0', '\u2003')

  private def text(alphabet: Gen[Char]): Gen[String] =
    Gen.choose(0, 24).flatMap(Gen.listOfN(_, alphabet)).map(_.mkString)

  private val asciiChar: Gen[Char] = Gen.frequency(
    6 -> Gen.oneOf(letters), 3 -> Gen.const(' '), 3 -> Gen.oneOf(javaSpace),
    1 -> Gen.oneOf(notSpace))
  private val anyChar: Gen[Char] = Gen.frequency(8 -> asciiChar, 2 -> Gen.oneOf(nonAscii))

  /** Most rows pure ASCII (the byte pass), some with a non-ASCII byte
    * (Spark's path), and every batch holds "", spaces only and null. */
  private val batch: Gen[Seq[String]] =
    Gen.listOfN(40, Gen.frequency(3 -> text(asciiChar), 1 -> text(anyChar)))
      .map(_ ++ Seq("", " ", "   ", "\t", " \t ", null))

  private val schema = StructType(Seq(StructField("id", LongType), StructField("s", StringType)))

  private def forms(rows: Seq[String]): Seq[Map[Long, Any]] = {
    // RDD-backed: over a local Seq the optimizer would fold the
    // projection interpreted and codegen would never run
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      rows.zipWithIndex.map { case (s, i) => Row(i.toLong, s) }, 2), schema)
    def eval(toks: Column => Column): Map[Long, Any] =
      df.select(col("id"), toks(col("s"))).collect().map(r => r.getLong(0) -> r.get(1)).toMap
    val compiled = eval(TextAnalysis.tokens)
    val interpreted = withoutCodegen(eval(TextAnalysis.tokens))
    val ref = eval(HofForms.tokensHof)
    Seq(compiled, interpreted, ref)
  }

  private def show(s: String): String =
    if (s == null) "null" else s.flatMap(c => if (c < 0x20 || c > 0x7e) f"\\u${c.toInt}%04x" else c.toString)

  test("tokens: codegen == interpreted == HofForms' regex split") {
    val res = SCTest.check(params, Prop.forAll(batch) { rows =>
      val Seq(compiled, interpreted, ref) = forms(rows)
      val broken = rows.indices.map(_.toLong).flatMap { id =>
        val at = s"row '${show(rows(id.toInt))}'"
        if (compiled(id) != interpreted(id)) Some(s"$at: codegen ${compiled(id)} != interpreted ${interpreted(id)}")
        else if (compiled(id) != ref(id)) Some(s"$at: native ${compiled(id)} != regex split ${ref(id)}")
        else None
      }
      Prop(broken.isEmpty) :| broken.headOption.getOrElse("")
    })
    assert(res.passed, res.status match {
      case SCTest.Failed(_, labels) => labels.mkString("; ")
      case other => other.toString
    })
  }

  test("edge rows: [\"\"] for empty and all-space text, kept leading and trailing \"\", null for null") {
    val rows = Seq("", "   ", "\t", " \tAb  C\n ", "x\u001fY", null)
    val Seq(compiled, _, ref) = forms(rows)
    assert(compiled == ref)
    def toks(i: Int) = compiled(i.toLong).asInstanceOf[scala.collection.Seq[String]]
    assert(toks(0) == Seq("") && toks(1) == Seq(""))
    assert(toks(2) == Seq("", ""))
    assert(toks(3) == Seq("", "ab", "c", ""))
    assert(toks(4) == Seq("x\u001fy"))
    assert(compiled(5L) == null)
    // same type as Spark's split, so no schema changes
    val df = spark.range(1).select(lit("a b").as("s"))
    assert(df.select(TextAnalysis.tokens(col("s"))).schema.head.dataType ==
      df.select(HofForms.tokensHof(col("s"))).schema.head.dataType)
  }

  test("a collated string fails analysis, naming the kernel") {
    val df = spark.range(1).select(collate(lit("Ab C"), "UTF8_LCASE").as("t"))
    Seq(TextAnalysis.tokens _, TextAnalysis.tokenCount _).foreach { f =>
      val e = intercept[AnalysisException](df.select(f(col("t"))).collect())
      assert(e.getMessage.contains("whitespace_tokens") && e.getMessage.contains("UTF8_BINARY"), e.getMessage)
    }
  }

  test("one tokenizer: no main source outside TextAnalysis and the kernel splits on \\s+") {
    val root = new java.io.File("src/main/scala")
    // a `split(` whose pattern is exactly the whitespace run, as a Scala
    // ("\\s+") or Spark SQL ('\\\\s+') literal
    val found = offenders(root, """\bsplit\(.*(["'])(\\\\)+s\+\1""".r,
      Set(new java.io.File(root, "graft/functions/TextAnalysis.scala"),
        new java.io.File(root, "graft/plans/WhitespaceTokens.scala")))
    assert(found.isEmpty, s"whitespace split outside TextAnalysis.tokens:\n${found.mkString("\n")}")
  }
}
