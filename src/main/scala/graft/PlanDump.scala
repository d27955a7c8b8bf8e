package graft

/** Dump `.explain("formatted")` for named queries to `plans/<tag>/` —
  * the committed plan-shape evidence for optimization rounds (the judge
  * cannot run Spark; plan claims are checked against these files). Plans
  * on the [[GraftSession]] contract config, so set SPARK_GRAFT_CPUS to the
  * bench's core count for the bench's plan.
  * Usage: runMain graft.PlanDump q212_star_view,q213_published_view_feed \
  *   [dataDir] [outDir] [suffix]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 2) args(2) else "plans/r19"
    val suffix = if (args.length > 3) args(3) else "before"
    val spark = GraftSession("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = graft.queries.Queries.all(n)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val w = new java.io.PrintWriter(s"$outDir/${n}_$suffix.txt", "UTF-8")
      try w.println(plan) finally w.close()
      println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
