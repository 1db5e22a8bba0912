package graft.tools

/** Plan-audit tool: prints the formatted physical plan for the named
  * queries (or a default audit set) so scan pruning / pushdown /
  * broadcast / TakeOrderedAndProject decisions are visible and
  * reviewable. Usage: runMain graft.tools.Explain [sfDir] [q...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q02_filter_range", "q03_join_revenue", "q28_cosine_topk",
        "q37_filter_compiler", "q46_catalog", "q58_asof_join")
    val spark = graft.core.Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      println(graft.SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
