package graft

/** Plan-audit main: prints the formatted physical plan of each query (or
  * the ones given as args) so pushdown / broadcast / codegen coverage can
  * be reviewed. AQE is off, so codegen stages and join strategies show
  * statically — the same view PlanRegressionSpec asserts on.
  * `sbt "runMain graft.Explain q20_star_revenue"`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else Bench.headline
    Bench.requireKnown(names)
    val spark = LocalSession("4", "4", "ERROR",
      "spark.sql.adaptive.enabled" -> "false")
    try names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    finally spark.stop()
  }
}
