package graft

/** Plan-audit tool: prints explain("formatted") for the named queries (or
  * all with no args past sfDir) — used to check PushedFilters / ReadSchema /
  * broadcast choices / WholeStageCodegen spans per SURVEY §4.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.all.map(_.name)
    val spark = Session(4)
    val qs = SparkEntry.queries
    names.foreach { n =>
      println(s"\n========== $n ==========")
      qs(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
