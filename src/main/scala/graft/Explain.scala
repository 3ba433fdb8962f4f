package graft

/** Plan auditor: prints the formatted physical plan of selected queries so
  * pushdown / broadcast / codegen properties can be reviewed.
  * Usage: runMain graft.Explain <sfDir> [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("q2_filter_project", "q3_join_agg", "q10_star_join", "mr_wordcount")
    val spark = GraftSession.forMain()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
