package graft

/** Dev tool: prints physical-plan evidence for the scale checklist in
  * SURVEY.md §4 (pushdown, pruning, broadcasts, codegen spans), on a
  * factory session, so the plans are the ones `GraftExtensions` shapes.
  * Run: sbt "runMain graft.PlanDebug [queryName ...]"
  */
object PlanDebug {
  def main(args: Array[String]): Unit = {
    val (spark, d) = tools.DevTool.session()
    val names = if (args.nonEmpty) args.toSeq else Seq("q6_filter_agg", "q5_region_join", "q1_pricing")
    names.foreach { n =>
      println(s"========== $n ==========")
      // "build:<artifact>" pseudo-names print the shared-build frames
      // the bench prices (round 16 — the bloom-bounded truth joins live
      // in builds, not in any declared query's plan)
      val df = n match {
        case "build:ir_truth" =>
          operators.Retrieval.truthBuildPlan(spark, d, shingle = false)
        case "build:ir_truth_shingle" =>
          operators.Retrieval.truthBuildPlan(spark, d, shingle = true)
        case _ => SparkEntry.queries(n)(spark, d)
      }
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
